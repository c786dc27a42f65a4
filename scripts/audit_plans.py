"""Physical-plan audit: assert the scale-critical plan properties
hold for the headline queries (SURVEY.md §4; task directive
".explain the plan and iterate").

Checks per query:
  * parquet scans carry PushedFilters when the query filters a base
    column (predicate pushdown reached the source);
  * ReadSchema is pruned (no scan reads all columns unless the query
    needs them);
  * dimension joins execute as BroadcastHashJoin;
  * no CartesianProduct unless the query is an intentional cross
    join;
  * no Scan ExistingRDD reads a Python RDD (README "No RDDs"): a
    list-built createDataFrame runs Python-worker tasks on every scan,
    and operators/local.local_frame builds the same frame as a
    LocalTableScan. Checkpoint scans are ExistingRDD too, over the
    checkpointed RDD, and are not flagged.

Usage: python scripts/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402
from zoom_spark.session import get_spark  # noqa: E402

# query -> (expect_pushed_filter, expect_broadcast, allow_cartesian)
EXPECTATIONS = {
    # flagship/q1 join a 1-row scalar aggregate (threshold): that is a
    # BroadcastNestedLoopJoin by design — broadcast side is 1 row
    "flagship_delta": dict(pushed=False, broadcast=False, cartesian=True),
    "filter_eq": dict(pushed=True, broadcast=False, cartesian=False),
    "tpch_q1_pricing": dict(pushed=False, broadcast=False, cartesian=True),
    "tpch_q3_shipping": dict(pushed=True, broadcast=True, cartesian=False),
    "tpch_q5_local_revenue": dict(pushed=True, broadcast=True, cartesian=False),
    "range_join_ship_lag": dict(pushed=False, broadcast=False, cartesian=False),
    "join_enrich": dict(pushed=False, broadcast=True, cartesian=False),
    "latest_order_per_customer": dict(pushed=False, broadcast=False, cartesian=False),
    # knn is an intentional broadcast cross join (queries x corpus)
    "knn_bruteforce": dict(pushed=True, broadcast=False, cartesian=True),
    # decision stump: 1-row (N, P) totals broadcast crossed onto the
    # distinct-value candidate frame — scalar BNLJ by design
    "decision_stump_acctbal": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # Durbin-Watson: row_number/lag over the calendar-bounded day
    # pre-aggregate (cusum-style exception) + 1-row OLS-fit BNLJs
    "durbin_watson_revenue_trend": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # Bayesian A/B: 1-row arm-count broadcasts crossed onto the k-range
    # and summation frames (scalar BNLJ by design); the nine lnfact
    # lookups are broadcast hash equi-joins on pre-projected keys
    "bayes_ab_prob_purchase": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # median CI: 1-row rank/median/value broadcasts crossed onto the
    # j-range and distinct-value frames (scalar BNLJ by design)
    "median_ci_order_stats": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # Jarque-Bera: 1-row rounded-mean broadcast crossed onto the scan
    # for centering (scalar BNLJ by design)
    "jarque_bera_order_value": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # Ljung-Box: row_number over the calendar-bounded day pre-aggregate
    # (cusum-style exception) + 1-row mean/denominator/Q BNLJs; the
    # lag pairing itself is a broadcast equi-join on rn + k
    "ljung_box_daily_revenue": dict(
        pushed=False, broadcast=True, cartesian=True, unpart_window=True
    ),
    # Fisher exact: 1-row margin/obs broadcasts crossed onto the
    # i-range (scalar BNLJ by design); the nine lnfact lookups are
    # broadcast hash equi-joins on pre-projected keys
    "fisher_exact_weekend_purchase": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # Granger: row_number over the calendar-bounded day pre-aggregate
    # (cusum-style exception) + 1-row mean/moment BNLJs; the lag
    # pairing is an equi-join on rn+1
    "granger_count_to_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # ridge: 1-row rounded-mean broadcast crossed onto the scan for
    # centering (scalar BNLJ by design)
    "ridge_lineitem_price_model": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # Brier: 24-row forecast table broadcast equi-join + 1-row totals
    # broadcast crossed onto the 24-bin frame (scalar BNLJ by design)
    "brier_decomposition_purchase": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # OOF target encoding: 1-row global-totals broadcast crossed onto
    # the 25-cell frame (scalar BNLJ by design)
    "target_encoding_oof": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # Shapley: 8-row subset lattice crossed with the <=8-row mask
    # frame (constant-size BNLJ by design)
    "shapley_channel_attribution": dict(
        pushed=True, broadcast=True, cartesian=True
    ),
    # Heaps: 10-row checkpoint grid + 1-row total/fit broadcasts
    # crossed onto the type frame (scalar BNLJ by design)
    "heaps_law_fit": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # Hoeffding CS: 10-row checkpoint grid + 1-row total broadcast
    # crossed onto the sequence frame (scalar BNLJ by design)
    "hoeffding_confidence_sequence": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # partial correlation: 1-row rounded-mean broadcast crossed onto
    # the day pre-aggregate for centering (scalar BNLJ by design)
    "partial_correlation_daily": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # JL projection: the 1-row projection-matrix broadcast crossed
    # onto the scan (the catalyst-plan-compile matrix-column pattern)
    "jl_random_projection": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # SNM: 3-row offset frame crossed onto the vocabulary ranks
    # (constant-size BNLJ by design); the window join itself is a
    # broadcast equi-join on rank + k
    "sorted_neighborhood_pairs": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # exponential fit: 1-row (n, mean) broadcast crossed onto the
    # distinct-gap ECDF frame (scalar BNLJ by design)
    "exponential_fit_interevent": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # DP median: 1-row n/median broadcasts crossed onto the candidate
    # frame and the 1-row winner (scalar BNLJ by design)
    "dp_median_exponential_mechanism": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # Huber IRLS: 1-row fit/scale broadcasts crossed onto the
    # calendar-bounded day frame each iteration (scalar BNLJ by design)
    "huber_regression_revenue_trend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # runs test: 1-row (runs-count) broadcast crossed onto the 1-row
    # totals frame — scalar BNLJ by design
    "runs_test_purchase_sequence": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # jackknife ratio: 1-row totals broadcast crossed onto the
    # unit frame (scalar BNLJ by design)
    "jackknife_ratio_revenue_per_order": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # SPRT assembles its single summary row from four 1-row broadcast
    # frames (crossing index, final index, probed LLR values) — scalar
    # BNLJ by design; the trajectory itself is never broadcast
    "sprt_purchase_rate": dict(pushed=False, broadcast=False, cartesian=True),
    # HITS normalizes each half-step by a 1-row L2-norm broadcast
    # (scalar BNLJ by design, same class as the k-means centroid waiver)
    "hits_supplier_part": dict(pushed=False, broadcast=False, cartesian=True),
    # R244/R245: the 10-row k-grid / 25-community frame crosses a
    # model-sized histogram (degree or min-degree counts), and
    # modularity adds a 1-row edge-count scalar broadcast — the edge
    # list itself is never in any cartesian
    "rich_club_coefficients": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "modularity_brand_partition": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # R286: the day x day pair cross join is the documented
    # calendar-bounded quadratic class (mann_kendall/matrix-profile);
    # plus a 1-row grand-mean scalar BNLJ
    "distance_correlation_daily": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R300: inherits the KN component's 1-row distinct-bigram scalar
    # BNLJ (see kneser_ney_bigram_quality)
    "corpus_quality_scorecard": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # R299: 1-row order-total scalar crossed onto the <=13-row
    # basket-size histogram (scalar BNLJ by design)
    "poissonness_basket_sizes": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # R298: 1-row seasonal-mean scalar crossed onto the day frame
    # (same class as seasonal_decompose_revenue)
    "seasonality_strength_revenue": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # R295: 1-row total scalar crossed onto the 6-row pattern histogram
    "permutation_entropy_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R294: 1-row tolerance scalar crossed onto the day-frame template
    # pair join (documented calendar-bounded quadratic class)
    "sample_entropy_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R293: 3-row q grid + 1-row base-variance scalar crossed onto the
    # calendar-bounded day frame (constant-size BNLJ by design)
    "variance_ratio_test_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R290/R291: 1-row threshold/moment scalars crossed onto the scan
    # (scalar BNLJ by design, same class as jarque_bera/zscore)
    "gpd_tail_fit_spend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "mahalanobis_anomaly_events": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R288: same 1-row totals scalar BNLJ as KS/CvM
    "kuiper_test_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R287: 1-row totals scalar crossed onto the distinct-value frame
    # (scalar BNLJ by design, same class as ks_test_weekend_value)
    "cramer_von_mises_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R285: 5-row period grid + 1-row mean scalar crossed onto the
    # calendar-bounded day frame (constant-size BNLJ by design)
    "periodogram_fixed_bins": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R284: 1-row threshold scalar crossed onto the k-row top frame
    # (scalar BNLJ by design; selection is TakeOrderedAndProject)
    "hill_tail_index_spend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R278: cumulative-adopter window over the calendar-bounded
    # adopter-day frame (cusum-style exception)
    "bass_diffusion_fit": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    # R276: KM running product over the <=|days| event-time frame
    # (cusum-style exception) + 1-row horizon scalar BNLJ
    "competing_risks_cif": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R277: 1-row 9dp-fit and sigma^2 scalars crossed onto the
    # calendar-bounded day frame (scalar BNLJ by design)
    "ols_influence_diagnostics": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R272: CUSUM window over the calendar-bounded day frame + 1-row
    # split/total scalars crossed on (scalar BNLJ by design)
    "two_segment_trend_fit": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R273: cumulative share now routes through the two-phase
    # prefix_sum (range shuffle + O(P) offsets); remaining waiver is
    # the 1-row grand-total scalar BNLJ only.
    "abc_xyz_inventory": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R270: the median window and count() run over the 32-row bucket
    # frame; 1-row raw-mean/min-n scalars crossed on (scalar BNLJ)
    "median_of_means_order_value": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R267: 1-row r-hat/variance scalars crossed onto the per-customer
    # frame and the 1-row totals (scalar BNLJ by design)
    "delta_method_ratio_ci": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R261: ACF lag grid + 1-row mean/denominator scalar BNLJs over the
    # calendar-bounded day frame
    "pacf_daily_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R262: 1-row MSW scalar crossed onto the 10-pair frame (the pair
    # join itself is the 5x5 model-sized self-join)
    "tukey_hsd_segments": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R263: KM running product + lead() over the <=|days| event-time
    # frame (cusum-style exception) + 1-row tau/first-segment scalars
    "rmst_conversion": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R259: 5-look grid x 1-row span scalar BNLJ, and the look-cutoff
    # date comparison is a non-equi broadcast join by design
    "obrien_fleming_sequential": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R251: KN interpolation crosses the 1-row distinct-bigram-count
    # scalar onto the pair stream (scalar BNLJ by design, same class
    # as bigram_logprob_quality's vocab scalar)
    "kneser_ney_bigram_quality": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # R246: CCDF window + OLS run over the distinct-degree HISTOGRAM
    # (hundreds of rows at any SF) with a 1-row total-count broadcast;
    # the node-level degree aggregate is the only data-sized stage
    "powerlaw_degree_fit": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # margin mining scores a fixed 50-vector panel against the corpus:
    # ONE broadcast(panel) x corpus scan feeds both rank directions —
    # O(N * panel), linear in corpus size (same class as knn_bruteforce)
    "margin_mutual_knn_pairs": dict(pushed=True, broadcast=True, cartesian=True),
    "dedup_exact_docs": dict(pushed=False, broadcast=False, cartesian=False),
    "minhash_dedup_docs": dict(pushed=False, broadcast=False, cartesian=False),
    # EXISTS decorrelates to a broadcast left-semi; the quantity filter
    # must reach the lineitem scan
    "exists_heavy_lineitem": dict(pushed=True, broadcast=True, cartesian=False),
    "in_subquery_parts": dict(pushed=True, broadcast=True, cartesian=False),
    "correlated_scalar_vs_cust_avg": dict(pushed=False, broadcast=True, cartesian=False),
    "not_exists_quiet_customers": dict(pushed=True, broadcast=True, cartesian=False),
    "stats_aggregates": dict(pushed=False, broadcast=False, cartesian=False),
    "window_frames": dict(pushed=False, broadcast=False, cartesian=False),
    # the RANGE frame runs over a day-level pre-aggregate: the frame is
    # calendar-bounded (one row per order date, ~2.4k rows at any SF),
    # so the single-task window is over a constant-sized input
    # centered 7-day moving average over the day-level pre-aggregate
    # (~2.4k rows at any SF, calendar-bounded) + a 1-row/7-row scalar
    # broadcast for the seasonal centering — same waiver class as
    # range_frame_rolling_revenue
    # composes seasonal_decompose_revenue (same calendar-bounded window
    # + broadcast legs) plus a 1-row residual-stddev broadcast
    "seasonal_anomaly_days": dict(
        pushed=False, broadcast=True, cartesian=True, unpart_window=True
    ),
    # three 1-row LM-normalizer broadcasts (target total, source total,
    # vocab size) crossed onto the token frame — scalar BNLJ by design
    "importance_weight_ess": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # 1-row totals broadcast crossed onto the distinct-value frame
    # (same shape as the KS test's waiver)
    "wasserstein_weekend_value": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # two 1-row normalizer broadcasts (token total, Z = sum c^0.75)
    "word2vec_sampling_table": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # conformal: 1-row model/k/q-hat broadcasts crossed onto the
    # residual frame (scalar BNLJ by design)
    "conformal_interval_coverage": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # BH: 1-row threshold broadcast onto the cell-count-sized battery
    "bh_fdr_correction": dict(pushed=False, broadcast=True, cartesian=True),
    "seasonal_decompose_revenue": dict(
        pushed=False, broadcast=True, cartesian=True, unpart_window=True
    ),
    # cumulative-gains step is a 10x10 non-equi self-join on the
    # per-decile aggregate plus a 1-row totals broadcast — both
    # constant-sized nested-loop joins by design
    "lift_gains_deciles": dict(pushed=False, broadcast=True, cartesian=True),
    # NB scoring crosses test tokens with the |classes|-row class-total
    # frame and the 1-row vocab-size frame — both broadcast model-sized
    # nested-loop joins by design
    "naive_bayes_source_classifier": dict(
        pushed=False, broadcast=True, cartesian=True
    ),
    # theta/mean(x) is a 1-row broadcast joined to every customer row
    "cuped_adjusted_ab": dict(pushed=False, broadcast=False, cartesian=True),
    "range_frame_rolling_revenue": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    "collect_sorted_lines": dict(pushed=True, broadcast=False, cartesian=False),
    "canonical_doc_ids": dict(pushed=False, broadcast=False, cartesian=False),
    # IVF centroid matrix rides in as a 1-row broadcast crossJoin
    # (BNLJ by design — see similarity/ivf._with_centroid_sims); the
    # probe-cell join is size-planned by AQE, not forced broadcast
    "knn_ivf_fullprobe": dict(pushed=False, broadcast=False, cartesian=True),
    "hard_negative_pairs_ann": dict(pushed=False, broadcast=False, cartesian=True),
    # below the size gate knn_ivf is a LocalRelation scored in numpy
    # (no join at all); the waiver covers its distributed branch, where
    # the centroid matrix is a 1-row broadcast crossJoin (BNLJ by
    # design) and the query filter lands on the localCheckpointed
    # quantized frame, not the scan
    "knn_ivf": dict(pushed=False, broadcast=False, cartesian=True),
    "simhash_dedup_docs": dict(pushed=False, broadcast=False, cartesian=False),
    "ngram_jaccard_dups": dict(pushed=False, broadcast=False, cartesian=False),
    # q6: scalar-threshold join is a 1-row BroadcastNestedLoopJoin by
    # design; discount/quantity predicates must reach the scan
    "tpch_q6_forecast_revenue": dict(pushed=True, broadcast=False, cartesian=True),
    "tpch_q8_market_share": dict(pushed=True, broadcast=True, cartesian=False),
    "tpch_q9_profit_by_nation_year": dict(pushed=True, broadcast=True, cartesian=False),
    "tpch_q10_returned_items": dict(pushed=True, broadcast=True, cartesian=False),
    "tpch_q2_top_supplier_per_nation": dict(pushed=True, broadcast=True, cartesian=False),
    "tpch_q4_priority_count": dict(pushed=False, broadcast=False, cartesian=False),
    "tpch_q12_priority_by_returnflag": dict(pushed=False, broadcast=False, cartesian=False),
    "tpch_q14_promo_revenue": dict(pushed=False, broadcast=True, cartesian=False),
    "tpch_q16_supplier_cnt": dict(pushed=True, broadcast=True, cartesian=False),
    "tpch_q19_disjunctive_revenue": dict(pushed=True, broadcast=True, cartesian=False),
    "tpch_q21_waiting_suppliers": dict(pushed=True, broadcast=True, cartesian=False),
    "tpch_q22_global_sales_opportunity": dict(pushed=False, broadcast=True, cartesian=True),
    "repetition_stats": dict(pushed=False, broadcast=False, cartesian=False),
    "user_value_slope": dict(pushed=False, broadcast=False, cartesian=False),
    "sessionize_events_sql": dict(pushed=False, broadcast=False, cartesian=False),
    # interval/gap joins broadcast the tiny exploded window frame; the
    # window frame derives from a 1-row bounds aggregate (BNLJ by design)
    "interval_join_campaigns": dict(pushed=False, broadcast=True, cartesian=True),
    "tfidf_top_terms": dict(pushed=False, broadcast=True, cartesian=True),
    "benchmark_contamination": dict(pushed=True, broadcast=True, cartesian=False),
    "vocab_doc_frequency": dict(pushed=False, broadcast=False, cartesian=False),
    "corpus_to_shards_pipeline": dict(pushed=False, broadcast=True, cartesian=False),
    "pack_docs_into_shards": dict(pushed=False, broadcast=True, cartesian=False),
    "orders_lineitem_reconciliation": dict(pushed=False, broadcast=False, cartesian=False),
    "profile_orders": dict(pushed=False, broadcast=False, cartesian=False),
    "doc_chunks": dict(pushed=False, broadcast=False, cartesian=False),
    "try_functions": dict(pushed=False, broadcast=False, cartesian=False),
    "unpivot_order_metrics": dict(pushed=False, broadcast=False, cartesian=False),
    "orders_per_day_densified": dict(pushed=False, broadcast=False, cartesian=True),
    "variant_json_extract": dict(pushed=False, broadcast=False, cartesian=False),
    "weighted_jaccard_adjacent": dict(pushed=False, broadcast=False, cartesian=False),
    # round 2 queries
    "embedding_neardup_lsh": dict(pushed=False, broadcast=False, cartesian=False),
    "canonical_ids_chained": dict(pushed=False, broadcast=False, cartesian=False),
    "multimodal_decode_wav_ppm": dict(pushed=False, broadcast=False, cartesian=False),
    "weighted_sample_docs": dict(pushed=False, broadcast=False, cartesian=False),
    "pii_redaction": dict(pushed=False, broadcast=False, cartesian=False),
    # vocab-total scalar is a 1-row broadcast by design
    "unigram_logprob_quality": dict(pushed=False, broadcast=True, cartesian=True),
    "url_domain_stats": dict(pushed=False, broadcast=False, cartesian=False),
    "label_centroids": dict(pushed=False, broadcast=False, cartesian=False),
    "hll_distinct_users": dict(pushed=False, broadcast=False, cartesian=False),
    "incremental_agg_maintenance": dict(pushed=False, broadcast=False, cartesian=False),
    "funnel_signup_purchase": dict(pushed=False, broadcast=False, cartesian=False),
    "zorder_layout_keys": dict(pushed=False, broadcast=False, cartesian=False),
    "fuzzy_part_matches": dict(pushed=False, broadcast=True, cartesian=False),
    "multimodal_resize_ppm": dict(pushed=True, broadcast=False, cartesian=False),
    "curation_pipeline_e2e": dict(pushed=False, broadcast=False, cartesian=False),
    "quota_sample_per_source": dict(pushed=False, broadcast=False, cartesian=False),
    "modern_aggregates": dict(pushed=False, broadcast=False, cartesian=False),
    "asof_forward_tolerance": dict(pushed=True, broadcast=False, cartesian=False),
    "linear_interp_fill": dict(pushed=False, broadcast=False, cartesian=False),
    # 5-row per-type stats table is an explicit broadcast
    "zscore_anomaly_events": dict(pushed=False, broadcast=True, cartesian=False),
    "bitmap_day_activity": dict(pushed=False, broadcast=False, cartesian=False),
    "event_pattern_sessions": dict(pushed=False, broadcast=False, cartesian=False),
    # prefix-max offsets are an explicit O(P)-row broadcast
    "skyline_orders": dict(pushed=False, broadcast=True, cartesian=False),
    # degree table broadcasts; final assembly crossJoins three 1-row
    # aggregates by design
    "co_purchase_triangles": dict(pushed=False, broadcast=True, cartesian=True),
    "cdc_chunks_docs": dict(pushed=False, broadcast=False, cartesian=False),
    "time_weighted_avg": dict(pushed=False, broadcast=False, cartesian=False),
    # cohort-size dimension is an explicit broadcast
    "cohort_retention": dict(pushed=False, broadcast=True, cartesian=False),
    # FK anti-join broadcasts the customer dim; the report assembles
    # two 1-row aggregate legs with an intentional crossJoin
    "dq_constraint_report": dict(pushed=False, broadcast=True, cartesian=True),
    "pagerank_parts": dict(pushed=False, broadcast=False, cartesian=False),
    "markov_transitions": dict(pushed=False, broadcast=False, cartesian=False),
    # one conditional-moments pass; purchase filter must reach the scan
    "welch_ttest_weekend": dict(pushed=True, broadcast=False, cartesian=False),
    # global_row_number broadcasts O(P) offsets; the 1-row count
    # scalar joins via an intentional crossJoin
    "equidepth_histogram": dict(pushed=False, broadcast=True, cartesian=True),
    "posting_lists": dict(pushed=False, broadcast=False, cartesian=False),
    # round 4: shard rank is a hash partition + in-partition sort
    "shuffle_shards_deterministic": dict(pushed=False, broadcast=False, cartesian=False),
    # per-source rates broadcast; the 1-row min scalar is an
    # intentional 1-row broadcast nested-loop
    "temperature_mix_sample": dict(pushed=False, broadcast=True, cartesian=True),
    # candidate set broadcasts into the recount; 1-row total crossJoin
    "heavy_hitter_tokens": dict(pushed=False, broadcast=True, cartesian=True),
    # k-means centroid matrix is a 1-row broadcast crossJoin per Lloyd
    # iteration (BNLJ by design — similarity/kmeans.int_assign); for
    # kmeans_corpus_cells only on its distributed branch, since below
    # the size gate it is a LocalRelation of numpy-assigned counts
    "semdedup_corpus": dict(pushed=False, broadcast=False, cartesian=True),
    "kmeans_corpus_cells": dict(pushed=False, broadcast=False, cartesian=True),
    "pca_project_corpus": dict(pushed=False, broadcast=False, cartesian=False),
    # ADC scan is a literal-LUT fold + per-query top-k over the FULL
    # encoded corpus; no joins, no base-column filter in the plan
    "knn_pq_adc": dict(pushed=False, broadcast=False, cartesian=False),
    # probe LUTs broadcast into the cell equi-join
    "knn_ivfpq": dict(pushed=False, broadcast=True, cartesian=False),
    # LATERAL decorrelates to WindowGroupLimit + broadcast equi-join
    "lateral_top_orders_per_customer": dict(pushed=True, broadcast=True, cartesian=False),
    # null-safe equality is hash-joinable: broadcast, never nested-loop
    "null_safe_join_segments": dict(pushed=False, broadcast=True, cartesian=False),
    "bigram_counts": dict(pushed=False, broadcast=False, cartesian=False),
    "snapshot_diff_orders": dict(pushed=False, broadcast=False, cartesian=False),
    # rates broadcast; 1-row min scalar is an intentional 1-row BNLJ
    "mix_shard_pipeline": dict(pushed=False, broadcast=True, cartesian=True),
    "duplicate_spans": dict(pushed=True, broadcast=False, cartesian=False),
    "kll_quantile_sketch_prices": dict(pushed=False, broadcast=False, cartesian=False),
    # pairwise sketch matrix: 5-row self-join is an intentional
    # broadcast nested-loop on the theta-sketch frame
    "theta_sketch_segment_overlap": dict(pushed=False, broadcast=False, cartesian=True),
    "bitmap_exact_distinct_customers": dict(pushed=False, broadcast=False, cartesian=False),
    # 1-row vocab scalar is an intentional broadcast cross join
    "bigram_logprob_quality": dict(pushed=False, broadcast=True, cartesian=True),
    # df + (n_docs, avgdl) stats are broadcast; 1-row stats crossJoin
    "bm25_ranking": dict(pushed=False, broadcast=True, cartesian=True),
    # item stats broadcast; 1-row order count is an intentional BNLJ
    "association_rules_pairs": dict(pushed=False, broadcast=True, cartesian=True),
    "left_lateral_latest_urgent_order": dict(pushed=True, broadcast=True, cartesian=False),
    "community_labels_copurchase": dict(pushed=False, broadcast=False, cartesian=False),
    "merge_order_intervals": dict(pushed=False, broadcast=False, cartesian=False),
    # O(P) rank offsets broadcast; 1-row stats legs cross-join
    "gini_customer_spend": dict(pushed=False, broadcast=True, cartesian=True),
    # round-5 additions
    "duplicate_spans_invariant": dict(pushed=True, broadcast=False, cartesian=False),
    # probe side joins the broadcast sketch; 1-row totals cross-join
    "countmin_token_freq": dict(pushed=False, broadcast=True, cartesian=False),
    "dsir_importance_weights": dict(pushed=False, broadcast=True, cartesian=True),
    "touch_attribution": dict(pushed=True, broadcast=False, cartesian=False),
    "bfs_reachable_parts": dict(pushed=False, broadcast=False, cartesian=False),
    "mad_robust_anomaly": dict(pushed=False, broadcast=True, cartesian=False),
    "bpe_merge_candidates": dict(pushed=False, broadcast=False, cartesian=False),
    # round-5 stats suite: contingency/row/col totals broadcast; the
    # 1-row grand-total legs are intentional 1-row BNLJs
    "chi_square_independence": dict(pushed=False, broadcast=True, cartesian=True),
    "js_divergence_sources": dict(pushed=False, broadcast=True, cartesian=True),
    "train_val_test_split": dict(pushed=False, broadcast=False, cartesian=False),
    # O(P) rank offsets broadcast; 1-row max-date scalar cross-joins
    "rfm_scores": dict(pushed=False, broadcast=True, cartesian=True),
    "novelty_ngram_score": dict(pushed=False, broadcast=False, cartesian=False),
    "ab_test_proportions": dict(pushed=False, broadcast=False, cartesian=False),
    # round-5 curation extras: class totals + 1-row class-average
    # broadcast; per-label top-5 is WindowGroupLimit-bounded
    "ctfidf_cluster_terms": dict(pushed=False, broadcast=True, cartesian=True),
    # fixed-size (HNP_BATCH=64) broadcast query batch x corpus scan —
    # linear in the corpus since the r10 re-scope; the full-corpus
    # scale path is the bucketed ANN family
    "hard_negative_pairs": dict(pushed=False, broadcast=False, cartesian=True),
    "kcore_parts": dict(pushed=False, broadcast=False, cartesian=False),
    # lag-7/lag-1 run over the calendar-bounded day-level pre-aggregate
    "seasonal_naive_mase": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    # entropy legs are 1-row cross-joins over the tiny contingency
    "conditional_entropy_props": dict(pushed=False, broadcast=True, cartesian=True),
    # round-5 training-prep (R80-R86)
    "decontaminate_ngram_overlap": dict(pushed=False, broadcast=False, cartesian=False),
    "regr_aggregates_lineitem": dict(pushed=False, broadcast=False, cartesian=False),
    "gopher_quality_flags": dict(pushed=False, broadcast=False, cartesian=False),
    # |priorities|-row percentile frame broadcast onto the fact scan
    "winsorized_price_stats": dict(pushed=False, broadcast=True, cartesian=False),
    # 2-value median scalar broadcast (1-row BNLJ by design)
    "cohens_kappa_raters": dict(pushed=False, broadcast=False, cartesian=True),
    # 1-row P*Q normalizer broadcast (BNLJ by design); prefix-sum offsets
    # join is a broadcast hash join
    "roc_auc_purchase_value": dict(pushed=False, broadcast=True, cartesian=True),
    "ols_normal_equations": dict(pushed=False, broadcast=False, cartesian=False),
    # 1-row point-estimate broadcast joined onto the B-row CI frame
    "bootstrap_ci_order_value": dict(pushed=False, broadcast=False, cartesian=True),
    # df sides are word-model-sized broadcasts; 1-row corpus count BNLJ
    "pmi_cooccurrence": dict(pushed=False, broadcast=True, cartesian=True),
    # |sources|x2 cuts frame broadcast; 1-row vocab total BNLJ
    "ccnet_perplexity_buckets": dict(pushed=False, broadcast=True, cartesian=True),
    # segment-partitioned window over the customer aggregate
    "quantile_normalize_spend": dict(pushed=False, broadcast=False, cartesian=False),
    # 1-row softmax normalizer BNLJ over the |sources| frame
    "doremi_source_weights": dict(pushed=False, broadcast=True, cartesian=True),
    # calendar semi-join is a day-count-sized broadcast
    "rolling_7day_active_users": dict(pushed=False, broadcast=True, cartesian=False),
    # two distributed row-number passes (broadcast offset joins) + top-100
    "rrf_customer_rankings": dict(pushed=False, broadcast=True, cartesian=False),
    # per-user self-join (equi on user_id); 1-row user-count BNLJ
    "eventually_follows_pairs": dict(pushed=False, broadcast=False, cartesian=True),
    # two prefix-sum passes (broadcast offsets); 1-row totals BNLJ
    "ks_test_weekend_value": dict(pushed=False, broadcast=True, cartesian=True),
    # 1-row normalizer BNLJ over the |strata| frame
    "neyman_allocation": dict(pushed=False, broadcast=False, cartesian=True),
    # <=9-digit frame x 1-row total BNLJ; totalprice filter pushed
    "benford_first_digit": dict(pushed=True, broadcast=False, cartesian=True),
    # composed flagship: broadcast cuts + 1-row share normalizer BNLJ
    "pretrain_corpus_pipeline": dict(pushed=False, broadcast=True, cartesian=True),
    # user-partitioned window + hash aggregate
    "ewma_user_value": dict(pushed=False, broadcast=False, cartesian=False),
    # CUSUM window runs over the calendar-bounded day-level pre-agg
    # (~2.4k rows at any SF); argmax is TakeOrdered(1); 1-row mean BNLJ
    "cusum_changepoint_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # source-partitioned window + audit aggregate
    "stratified_kfold_docs": dict(pushed=False, broadcast=False, cartesian=False),
    # user-partitioned windows feed position-discounted aggregates
    "ndcg_value_ranking": dict(pushed=False, broadcast=False, cartesian=False),
    # token self-join bounded by sources-per-token; size frames broadcast
    "source_vocab_jaccard": dict(pushed=False, broadcast=True, cartesian=False),
    # broadcast decile edges (collected 9-double model) + 1-row totals BNLJ
    "psi_value_drift": dict(pushed=False, broadcast=False, cartesian=True),
    # inverted-index posting self-join on the shingle hash
    "containment_neardup_pairs": dict(pushed=False, broadcast=False, cartesian=False),
    # user-partitioned window + min-agg; 1-row user count BNLJ
    "mrr_value_ranking": dict(pushed=False, broadcast=False, cartesian=True),
    # two-phase rank + prefix mass (broadcast offsets); 1-row total BNLJ
    "vocab_coverage_sizes": dict(pushed=False, broadcast=True, cartesian=True),
    # per-user aggregate + 1-row report reduce
    "split_leakage_report": dict(pushed=False, broadcast=False, cartesian=False),
    # per-user equi-join + residual time range; type filters pushed
    "linear_touch_attribution": dict(pushed=True, broadcast=False, cartesian=False),
    # one conditional per-user aggregate
    "churn_labels": dict(pushed=False, broadcast=False, cartesian=False),
    # two map-side-partial aggregates
    "good_turing_unseen_mass": dict(pushed=False, broadcast=False, cartesian=False),
    # 1-row pooled-slope BNLJ onto the |strata| frame
    "simpsons_paradox_check": dict(pushed=False, broadcast=False, cartesian=True),
    # distributed rank (broadcast offsets) + one decomposable regr agg
    "zipf_exponent_fit": dict(pushed=False, broadcast=True, cartesian=False),
    # dim equi-join over the model-sized centroid frame
    "centroid_cosine_matrix": dict(pushed=False, broadcast=False, cartesian=False),
    # conditional-min per-user collapse + 1-row percentile reduce
    "funnel_latency_percentiles": dict(pushed=False, broadcast=False, cartesian=False),
    # fingerprint agg + equi-join back on the hash
    "source_duplication_report": dict(pushed=False, broadcast=False, cartesian=False),
    # distributed ranks (broadcast offsets) + k^2-bounded theta self-join
    "kendall_tau_topk": dict(pushed=False, broadcast=True, cartesian=True),
    # two decomposable-moment aggregates
    "event_burstiness": dict(pushed=False, broadcast=False, cartesian=False),
    # bigram shuffle + marginal equi-join; 1-row totals BNLJ
    "bigram_entropy_rate": dict(pushed=False, broadcast=False, cartesian=True),
    # distributed rank + prefix sum; <=10-row fan-out membership BNLJ
    "lorenz_curve_spend": dict(pushed=False, broadcast=True, cartesian=True),
    # |thresholds|-row broadcast fan-out BNLJ + one confusion aggregate
    "prf_at_thresholds": dict(pushed=False, broadcast=False, cartesian=True),
    # contingency reduction + broadcast marginals; 1-row total BNLJ
    "cramers_v_type_weekday": dict(pushed=False, broadcast=True, cartesian=True),
    # single-scan discordant-count reduce
    "mcnemar_paired_classifiers": dict(pushed=False, broadcast=False, cartesian=False),
    # two distributed row-number passes + decomposable corr
    "spearman_spend_recency": dict(pushed=False, broadcast=True, cartesian=False),
    # per-user collapse + cohort rollup + closed-form arithmetic
    "wilson_conversion_intervals": dict(pushed=False, broadcast=False, cartesian=False),
    # calendar-bounded day-pair theta join executes as a BNLJ over the
    # tiny day frame (by design), as does the 1-row n join
    "mann_kendall_revenue_trend": dict(pushed=False, broadcast=False, cartesian=True),
    # edge self-join + degree agg + 1-row node-count BNLJ
    "degree_powerlaw_alpha": dict(pushed=False, broadcast=False, cartesian=True),
    # edge construction + broadcast-eligible degree joins + corr pass
    "degree_assortativity": dict(pushed=False, broadcast=False, cartesian=False),
    # 1-row mean BNLJ + decomposable reduce
    "theil_index_spend": dict(pushed=False, broadcast=False, cartesian=True),
    # lag fan-out BNLJ + day equi-join over the calendar frame
    "revenue_autocorrelation": dict(pushed=False, broadcast=False, cartesian=True),
    # first-order equi-join back + cohort-partitioned cumulative window
    "cohort_ltv_curve": dict(pushed=False, broadcast=True, cartesian=False),
    # picked-keys equi-join expansion + 1-row population BNLJ
    "cluster_sample_lineitems": dict(pushed=False, broadcast=True, cartesian=True),
    # one distinct pass + conditional reduce
    "capture_recapture_customers": dict(pushed=False, broadcast=False, cartesian=False),
    # reverse/forward windows over the <= |days| event-time frame
    # (calendar-bounded, cusum-style exception); 1-row horizon BNLJ
    "kaplan_meier_conversion": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # same calendar-bounded day frames + 1-row horizon BNLJ as the KM
    # gate (log-rank adds the per-arm fill windows, still <= |days|)
    "logrank_arm_conversion": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "nelson_aalen_conversion": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # bin aggregate + 1-row weighted reduce BNLJ
    "expected_calibration_error": dict(pushed=False, broadcast=False, cartesian=True),
    # bigram shuffle + marginal equi-joins; 1-row total BNLJ
    "gtest_collocations": dict(pushed=False, broadcast=False, cartesian=True),
    # centroid/spread aggregates + labels^2 dim equi-join
    "davies_bouldin_embeddings": dict(pushed=False, broadcast=False, cartesian=False),
    # posting self-join + norm equi-joins; 1-row doc count BNLJ
    "tfidf_cosine_pairs": dict(pushed=False, broadcast=False, cartesian=True),
    # map-only K-explode + per-perm reduce; 1-row observed BNLJ
    "permutation_test_weekend": dict(pushed=False, broadcast=False, cartesian=True),
    # day pre-agg + 1-row overall-mean BNLJ
    "weekday_seasonal_index": dict(pushed=False, broadcast=False, cartesian=True),
    # 1-row min-ts scalar frame joined to the probe grid (BNLJ by design)
    "campaign_gap_report": dict(pushed=False, broadcast=False, cartesian=True),
    # the §2.3 CROSS JOIN coverage entry: 3-status x 5-region, both
    # sides are tiny pre-aggregates — the cartesian IS the operator
    "cross_join_status_region": dict(pushed=False, broadcast=False, cartesian=True),
    # 1-row min/max bounds frame broadcast onto orders (BNLJ by design)
    "histogram_prices": dict(pushed=False, broadcast=False, cartesian=True),
    # day-level pre-agg self-join (calendar-bounded theta join) + 1-row
    # median-slope frame broadcast back (BNLJ by design)
    "theil_sen_revenue_trend": dict(pushed=False, broadcast=False, cartesian=True),
    # ---- round 8 (R301+): 1-row scalar/moment broadcasts (BNLJ by
    # design) and calendar/dimension-bounded single-task windows ----
    # R302: 1-row (n, theta) scalar crossed onto the distinct-gap frame
    "anderson_darling_interevent": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R304: 1-row global-median + marginal-total scalars crossed on
    "mood_median_segments": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R305: 1-row snapped-mean scalar BNLJ + two running scans over the
    # calendar-bounded day frame
    "page_hinkley_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R306: day-frame partial-sum/lag windows + 1-row mean scalar BNLJ
    "kpss_level_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R307: lag windows over the calendar-bounded day frame
    "diebold_mariano_revenue": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    # R310: left-side x right-side 1-row fit frames crossed (2x1 rows)
    "regression_discontinuity_acctbal": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R311: 1-row gap-count scalar crossed onto the distinct-gap frame
    "weibull_fit_interevent": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R312: 1-row pos/neg-total scalar + 1-row IV-total crossed on
    "woe_iv_acctbal": dict(pushed=False, broadcast=False, cartesian=True),
    # R313: 1-row total scalar + 1-row chi2 crossed onto the arm counts
    "srm_check_assignment": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R314: the contingency-cell self-cross is the bounded 16x2 grid;
    # plus 1-row pair-count scalar
    "somers_d_balance_urgency": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R315: 1-row pooled-n scalar crossed onto the distinct-value frame
    "ansari_bradley_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R318: the bucket-histogram grid is gtot x 5 global buckets
    # (dimension-bounded crossJoin by design)
    "t_closeness_report": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R320: per-dim stats as a 1-row broadcast matrix column + the
    # documented exact query x corpus candidate scan (same contract
    # as knn_bruteforce; IVF twins are the scale path)
    "knn_sq8_rerank": dict(pushed=False, broadcast=False, cartesian=True),
    # R321: 1-row pooled-counts scalar BNLJ + BH step-up windows over
    # the 25-row nation frame
    "bh_fdr_nation_urgency": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R323: 1-row (n_docs, avgdl) stats scalar crossed onto the
    # query-matched candidate frame (same scalar BNLJ as bm25_ranking)
    "rrf_fusion_ranking": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R324: contingency-grid theta self-join (bounded 8 x distinct
    # order counts) + 1-row moment scalars crossed on
    "jonckheere_terpstra_balance_orders": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R325: 1-row rank-mean scalar crossed onto the distinct-value
    # frame for the deviation pass (scalar BNLJ by design)
    "brunner_munzel_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R326: 1-row total-N scalar crossed onto the distinct-value
    # frame for the antirank pass (scalar BNLJ by design)
    "cucconi_test_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R271: STOMP diagonal products — the pair frame is the documented
    # calendar-bounded day^2 class (same size at any SF), built by a
    # theta self-join of the ~2.4k-row day sequence (BNLJ by design)
    "matrix_profile_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # two 1-row scalar normalizers (total chars, sum of weights)
    # broadcast onto the source-level frame (BNLJ by design)
    "mixing_budget_allocation": dict(pushed=False, broadcast=False, cartesian=True),
    # two 1-row key-count scalars joined onto the 1-row product sum
    "join_size_estimator": dict(pushed=False, broadcast=False, cartesian=True),
    # R328: contingency-grid theta self-join (<= 5 priorities x ~25
    # price buckets at ANY SF — grid-sized BNLJ by design)
    "gk_gamma_priority_price": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R329: 1-row total-N scalar crossed onto the grid marginals
    # (scalar BNLJ by design)
    "theils_u_status_priority": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R331: three 1-row scalar frames (within-dispersion, ||T||^2,
    # global moments) crossed for the final ratio (scalar BNLJ)
    "calinski_harabasz_labels": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R332: 1-row (n, n1) totals crossed onto the distinct-time risk
    # frame and the 1-row score (scalar BNLJ by design)
    "cox_one_step_cohort": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R333: 20-row query side broadcast-crossed onto the 8-byte code
    # scan (same contract as knn_bruteforce — query batch x corpus)
    "hamming_knn_signbits": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R336: 1-row modularity scalar crossed onto the community-sized
    # frame (scalar BNLJ by design)
    "louvain_moves_copurchase": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R337: 1-row (n, p) totals crossed onto the ranked user frame
    # (scalar BNLJ by design)
    "average_precision_purchase": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R339: two 1-row component-test scalars crossed (scalar BNLJ);
    # the embedded MWU/AB subplans carry their own waived scalars
    "lepage_test_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R341: 1-row group-moment scalar crossed onto the 1-row totals
    # (scalar BNLJ by design)
    "icc_acctbal_nation": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R342: 1-row exact-total then 1-row (md, sd) scalars crossed onto
    # the order-diff frame for centering/limit counting (scalar BNLJ)
    "bland_altman_order_totals": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R344: 1-row type-cardinality scalar crossed onto the 1-row
    # chi-square frame (scalar BNLJ; the embedded chi-square subplan
    # carries its own waived scalars)
    "cramers_v_event_dow": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # --- round 10 ---
    # R345: the pairwise sign join is t_i < t_j over the CALENDAR-DAY
    # frame (T ~ 2400 at sf0.1, fixed by the date range, not row
    # volume) — bounded BNLJ by construction
    "pettitt_daily_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R347: 1-row block-count scalar crossed onto the 1-row L frame
    # (scalar BNLJ); the within-block rank join is equi on blk
    "pages_trend_weekday": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R350: block-range ranking is an m x m join over the WEEK frame
    # (m ~ 340, calendar-bounded) + 1-row scalar crosses
    "quade_weekday_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R351: 1-row rounded-fit scalars crossed onto the day frame
    # (same waiver as the gated durbin_watson residual pass)
    "breusch_pagan_daily": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R352: 1-row midpoint + per-regime RSS scalars crossed (scalar BNLJ)
    "chow_break_daily": dict(pushed=False, broadcast=False, cartesian=True),
    # R354: 1-row block-count/tie-sum scalars crossed onto the 1-row
    # rank-sum frame; rank join is equi on blk
    "kendalls_w_weekday": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R355: 1-row node-moment x 1-row edge-moment scalar cross
    "morans_i_copurchase": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R357: 1-row broadcast centroid matrix onto the assignment scan
    # (same waived shape as the int-Lloyd family)
    "dunn_index_int_cells": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R358: 4 single-row rank-extreme scalars crossed (nation frame
    # is dimension-bounded at 25 rows)
    "dixon_q_nations": dict(pushed=False, broadcast=False, cartesian=True),
    # R359: 1-row total-count scalar crossed onto the position frame
    "siegel_tukey_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R360: 1-row total-count scalar crossed for the decile cut
    "hosmer_lemeshow_purchase": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R362: 1-row node-moment x 1-row edge-moment scalar cross
    "gearys_c_copurchase": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R364: rank window over the calendar-bounded day frame
    # (cusum-style bounded exception)
    "lmoments_daily_revenue": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    # R365: 1-row date-bounds scalar crossed onto the order scan
    "nation_rank_stability": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # --- round 10 second wave (R366+) ---
    # R366/R385: 1-row min-year scalar (y0) broadcast onto the order
    # scan (scalar BNLJ by design)
    "cochrans_q_yearly_activity": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "cronbach_alpha_yearly_spend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R367/R380: 1-row transition-total scalar crossed onto the 3-row
    # pair frame
    "bowker_symmetry_priority": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R368: global midrank via the two-phase prefix scan (no window);
    # remaining flag is the 1-row tie-sum scalar cross
    "cuzick_trend_priority_price": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R369: lag/lead self-joins + row_number over the CALENDAR-DAY
    # frame (T ~ 2400 at sf0.1, fixed by the date range) — the
    # lmoments/pettitt day-frame exception
    "adf_unit_root_revenue": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    # R373: 25-row nation frame windows + the 20-row depth grid cross
    # (both dimension-bounded)
    "rbo_nation_rankings": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R375/R376: global rank / cumulative TP-FP via the two-phase
    # prefix scan; remaining flag is the 1-row totals scalar cross
    "hoover_palma_spend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "youden_j_threshold": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R377: day-frame row_number window + 1-row line/level scalars and
    # the 7-row horizon grid crossed (all bounded)
    "theta_forecast_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R379: 1-row MH-psi scalar crossed onto the 5-row stratum frame
    "breslow_day_weekend_value": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R381: 1-row trained-weights scalar broadcast onto the scoring
    # scan (the canonical broadcast-model shape)
    "lda_urgent_classifier": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R382/R383: day-frame neighbor joins / day-frame rank windows +
    # 1-row total scalars
    "turning_points_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "bartels_rvn_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R384: day-frame row_number window + 1-row limit scalars crossed
    # onto the ~340-row subgroup frame
    "xbar_r_control_chart": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R386/R387/R388: day-frame windows, the fixed period/box/lag
    # grids, and 1-row moment scalars crossed (pettitt class)
    "spectral_entropy_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "dfa_alpha_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "higuchi_fd_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R390: 1-row basket-count scalar crossed onto the 30-row rule
    # frame
    "basket_rule_metrics": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R394: 1-row n/tie scalars crossed onto the 1-row concordance
    # frame (the 50-cell join itself is a bounded broadcast theta join)
    "kendall_tau_b_priority_value": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R395: weekend x weekday DAY pair cloud (calendar-bounded, the
    # pettitt class) + its global median rank window over that bounded
    # cloud + 1-row count scalars
    "hodges_lehmann_weekend_shift": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R396: users x calendar-weeks grid (both data-bounded dims) via
    # broadcast cross + 1-row bounds scalars
    "zip_moment_fit_events": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R398: Gini rank via the two-phase prefix scan; remaining flag is
    # the 1-row node-count scalar cross
    "degree_centralization_copurchase": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R399: same calendar-bounded day-frame fill windows + scalar
    # crosses as the waived logrank gate it composes
    "gehan_breslow_conversion": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R400/R401: 1-row moment/median/MAD scalars broadcast onto the
    # value scan (ECDF/median ranks ride the two-phase prefix scan)
    "lilliefors_lognormal_spend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "tukey_biweight_location": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R402/R405: 1-row grand-mean / beta-prior scalars crossed onto
    # the 25-row nation frame
    "james_stein_nation_means": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "beta_binomial_shrinkage": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R403: day-frame windows (gap-and-island runs + the distinct-
    # value median rank over the day-bounded frame) + 1-row scalars
    "longest_streaks_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R408/R410: 1-row weight-total / fitted-line scalars broadcast
    # onto 5-row / day-bounded frames
    "welch_anova_segments": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "white_test_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R411: 1-row total/level-sum scalars crossed onto the <=21-row
    # cell frame (ranks ride the two-phase prefix scan)
    "scheirer_ray_hare_test": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R412: pairwise MK sign join is day-frame x day-frame within a
    # weekday (calendar-bounded ~(T/7)^2*7), then two 1-row scalars
    # (S total, variance sum) cross onto each other
    "seasonal_mann_kendall_revenue": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R413-R415: 25-cell contingency frame; margins ride unpartitioned
    # windows over the 25-row frame (bounded by the 5x5 category
    # product), plus 1-row entropy/margin scalars crossed together
    "g_test_priority_segment": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    "gk_lambda_priority_segment": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "uncertainty_coefficient_panel": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R417: three sequential 1-row weight-sum scalars (fixed, Q, tau2)
    # crossed onto the <=25-row nation panel
    "meta_analysis_weekend_effect": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R419: 1-row horizon scalar onto per-user spells; the risk
    # bucketing rides one unpartitioned row_number over the user frame
    # (user-bounded: spells are one row per user after the collapse);
    # cell x cell pair join is day x 32-bucket bounded
    "harrell_c_conversion": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R420: brand-day demand frame (<=calendar days); recency
    # row_number + gap lag ride unpartitioned windows over it; zhat/
    # ihat 1-row scalars cross at the end
    "croston_intermittent_demand": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R421/R422/R423: day-frame global rank/rolling windows (calendar-
    # bounded, the hodges_lehmann waiver class)
    "vargha_delaney_a_weekend": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    "hampel_filter_revenue": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    "ppcc_normality_revenue": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    # R424: 5-row priority-variance panel; extremes/argmax windows run
    # over 5 rows; ext x arg 1-row scalars cross at the end
    "variance_ratio_panel_priorities": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R426/R427: 4x/16x salt fanout is a broadcast cross of a 4/16-row
    # literal range onto the user-count frame; the 16-cell sketch
    # median rides a 4-row unpartitioned window; exact-vs-estimate
    # 1-row scalars cross at the end
    "countmin_sketch_users": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "ams_f2_sketch_users": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R429: the two 1-row group-moment frames (weekend, weekday)
    # cross onto each other for the closed-form T²
    "hotelling_t2_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R433: 9-row decile grid broadcast-crossed onto the day frame;
    # per-group ranks ride partitioned windows
    "quantile_treatment_effects": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R435: day row-number/count ride unpartitioned windows over the
    # calendar-bounded day frame; the two 1-row segment fits cross
    "its_segmented_regression": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R436: 1-row day-count scalar crossed onto the 20-row grid
    # literal; the kernel join itself is a banded broadcast
    "nadaraya_watson_smoother": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R437: the two 1-row group-moment frames cross for the closed
    # form (the hotelling waiver class)
    "tost_equivalence_weekend": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R438: one global sort of the hash column (the two-phase-rank
    # family's documented single-sort shape)
    "hash_uniformity_cvm": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    # R439-R442: day-frame scalar shapes — base-moment / per-level /
    # profile 1-row frames crossing for the closed forms (haar's six
    # level scalars union then cross the total; dtw crosses the 1-row
    # min/max date bound onto the fact rows broadcast-style)
    "yule_walker_ar2": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "haar_wavelet_energy": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "sax_symbolic_revenue": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "dtw_weekly_profiles": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R443/R445/R446: day-frame global midrank windows (the
    # hodges_lehmann waiver class) + 1-row tie/moment scalars crossing
    "wilcoxon_signed_rank_weeks": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "anderson_darling_two_sample": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "bws_test_weekend": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R447: the 64-cell densified copula grid cumulates via a
    # broadcast 64x64 self-cross (constant size); rank windows over
    # the customer frame
    "empirical_copula_dependence": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R449/R450: day-frame lag/rank/running-max windows + the 2-row
    # alpha grid / 1-row moment scalars crossing
    "var_cvar_revenue_changes": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "performance_ratio_panel": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R451: pooled midrank window over the fact frame (the shared
    # KW/MWU shape) + 1-row total/tie scalars crossing the 10-pair
    # group join
    "dunn_posthoc_segments": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R453/R454: 1-row moment/Rbar scalars crossing; the MCF risk
    # probe is a broadcast range join onto the bounded age frame with
    # an ordered cumulative window over it
    "process_capability_daily": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    "mean_cumulative_function": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R455: the 1-row trace/margin/total scalars cross for Newman's r
    "attribute_assortativity_brand": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R457/R458: label-bounded point-cloud crosses (fixed ~200x200
    # taxonomy frames, broadcast) — the exact-baseline pair-cloud
    # class, same as exact_hard_negatives
    "hausdorff_chamfer_labels": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "energy_distance_labels": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R459: pooled pair-cloud cross (label-bounded) + the global
    # median rank window over the bounded pair frame
    "mmd_rbf_labels": dict(
        pushed=False, broadcast=False, cartesian=True, unpart_window=True
    ),
    # R460: the 1-row shipdate-bound scalar broadcasts onto the fact
    # scan; matched-basket sums cross the 1-row expenditure totals
    "price_index_halves": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R463/R465: 1-row margin/entropy scalars cross over the <=80-cell
    # contingency (the uncertainty-panel waiver class; int_assign's
    # broadcast centroid cross rides along)
    "adjusted_rand_index_cells": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    "vmeasure_nmi_cells": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R466: the cumulative-coverage window runs over the 10-row pick
    # frame (round-bounded); per-round TakeOrdered argmaxes are the
    # data-sized stages
    "greedy_max_coverage_docs": dict(
        pushed=False, broadcast=False, cartesian=False, unpart_window=True
    ),
    # R467: each round broadcast-crosses the 1-row chosen center onto
    # the distance frame (k-1 scalar broadcasts by design)
    "kcenter_greedy_embeddings": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
    # R469: the 2-row m-label grid broadcast-crosses the per-source
    # totals (the fisher/bayes lnfact family's waived scalar shape)
    "rarefaction_curve_sources": dict(
        pushed=False, broadcast=False, cartesian=True
    ),
}


def _top_level_groups(s: str) -> list[str]:
    """Split an Arguments line into its top-level [...] groups."""
    groups: list[str] = []
    depth = 0
    cur = ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _has_unbounded_global_window(plan: str) -> bool:
    """True if any Window node has an empty partition spec AND the plan
    is not bounded upstream by TakeOrderedAndProject/WindowGroupLimit.

    A fully-specified Window's Arguments line carries three top-level
    bracket groups ([exprs], [partitionSpec], [orderSpec]); a window
    missing one spec carries two, and the second group is an orderSpec
    (contains ASC/DESC sort directions) exactly when the partition spec
    is the missing one. An unpartitioned window funnels the frame
    through a single task — only acceptable when the input is already
    bounded (top-k'd or pre-aggregated to a small frame).
    """
    bounded = "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    if bounded:
        return False
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if re.match(r"\(\d+\) Window$", line.strip()):
            for j in range(i + 1, min(i + 6, len(lines))):
                if lines[j].strip().startswith("Arguments:"):
                    groups = _top_level_groups(lines[j])
                    if len(groups) == 1:
                        return True
                    if len(groups) == 2 and re.search(
                        r"\b(ASC|DESC)\b", groups[1]
                    ):
                        return True
                    break
    return False


def audit(name: str, plan: str, exp: dict) -> list[str]:
    problems = []
    if not exp.get("unpart_window", False) and _has_unbounded_global_window(plan):
        problems.append("unpartitioned Window over an unbounded frame")
    if exp["pushed"] and not re.search(r"PushedFilters: \[[^\]]", plan):
        problems.append("no PushedFilters on any scan")
    if exp["broadcast"] and "BroadcastHashJoin" not in plan:
        problems.append("expected BroadcastHashJoin, none found")
    if not exp["cartesian"] and (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    ):
        problems.append("unexpected cartesian/nested-loop join")
    if re.search(
        r"^Arguments: .* at applySchemaToPythonRDD at .*ExistingRDD", plan, re.M
    ):
        problems.append("Scan ExistingRDD over a Python RDD")
    # column pruning: lineitem scans should never read all 11 columns
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c for c in m.group(1).split(",") if c]
        if len(cols) >= 11:
            problems.append(f"unpruned scan ({len(cols)} cols)")
    return problems


# Conservative default for queries without a hand-written entry: no
# pushdown/broadcast REQUIREMENT, but cartesians and unpartitioned
# windows are still flagged. Every registered query is audited — a new
# query with a bad plan shape fails the audit unless an explicit waiver
# is added above with a justification comment.
DEFAULT_EXPECTATION = dict(pushed=False, broadcast=False, cartesian=False)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    qs = entry_mod.queries()
    only = set(sys.argv[2:])  # optional: audit just the named queries
    n_bad = 0
    stale = [n for n in EXPECTATIONS if n not in qs]
    if stale:
        print(f"[BAD] EXPECTATIONS references unregistered queries: {stale}")
        n_bad += 1
    for name in qs:
        if only and name not in only:
            continue
        exp = EXPECTATIONS.get(name, DEFAULT_EXPECTATION)
        import io
        from contextlib import redirect_stdout

        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        problems = audit(name, plan, exp)
        status = "OK " if not problems else "BAD"
        if problems:
            n_bad += 1
        print(f"[{status}] {name}: {problems if problems else 'plan as designed'}")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
