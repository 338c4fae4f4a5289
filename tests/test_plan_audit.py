"""Fleet-wide physical-plan audit: every registered query's plan is scanned
for 100-TB red flags. Patterns that are *by design* are whitelisted with the
reason; anything new fails the build, so a refactor can't silently introduce
a cartesian product or an unexpected nested-loop join.

Two layers (ADVICE r3: presence-only whitelisting would let a regression add
a *second*, fact-scaled nested loop to an already-whitelisted query):

- ``BY_DESIGN``: name -> flag set, each entry carrying the WHY — the
  human-auditable rationale for every excused join shape.
- ``MAX_COUNTS``: name -> exact per-flag occurrence *maxima* measured from
  the current plans. The audit fails if a plan exceeds its pinned count, so
  only the documented bounded joins are excused; a new occurrence of the
  same flag in the same query still fails.

The detectors live in ``watermill_spark/analytics/profile.py``; regenerate
the pins after an intentional plan change with
``python -m watermill_spark.analytics.profile plans SF_DIR OUT_DIR`` over the
audited scale (``SF`` below); ``OUT_DIR/plans.json`` holds the flag
counts, hinted-broadcast flags and single-partition flags of every query.

(Heavier structural assertions for individual queries live in
test_scale_plans.py; this is the safety net across all of them.)
"""

from __future__ import annotations

import pytest

from watermill_spark.analytics.profile import (
    broadcast_fact_flags,
    flag_counts,
    formatted_plan,
    hint_plan,
    single_partition_flags,
)
from watermill_spark.analytics.registry import REGISTRY

SF = "/root/testdata/sf0.001"

# name -> allowed flags, each with a why
BY_DESIGN = {
    # scalar-subquery / threshold patterns: a 1-row aggregate joined to the
    # fact side can only be a broadcast nested-loop join — O(n) work
    "q11_important_parts": {"BNLJ"},
    "q_scalar_subquery": {"BNLJ"},
    # diagnostic_doc_sample's 1-row corpus-count broadcast, re-derived once
    # per consumer of the sampled-docs chain (sigs + toksets + each join
    # side) — always a 1-row build side
    "q_minhash_jaccard_calibration": {"BNLJ"},
    # adaptive band width: the 1-row corpus-count aggregate (nb) is
    # crossJoined onto the vectors before banding; the banded relation
    # feeds both sides of the candidate self-join, so the 1-row broadcast
    # appears twice — always a 1-row build side
    "q_dedup_embedding_lsh_pairs": {"BNLJ"},
    # same adaptive-nb 1-row broadcast, multiprobe banding variant
    "q_dedup_embedding_lsh_multiprobe_pairs": {"BNLJ"},
    # 1-row (n, nb) aggregate cross-joined before the planted-pair map
    # (appears on the banding side and the mixer-join side)
    "q_embedding_lsh_recall_calibration": {"BNLJ"},
    # tiered vec_id sample flag: the 1-row embeddings-count broadcast is
    # re-derived by the candidate pass and both settle-join sides
    "q_knn_classifier_eval_sampled": {"BNLJ"},
    "q_supplier_pareto": {"BNLJ"},  # 1-row grand-total joined to every rank row
    "q_order_size_histogram": {"BNLJ"},  # 1-row total joined to histogram rows
    "q_user_power_curve": {"BNLJ"},  # 1-row total joined to decile rows
    # funnel ends with three 1-row stage counts cross-joined — 1x1x1 rows
    "q_events_funnel": {"BNLJ"},
    "q_funnel_timebound": {"BNLJ"},
    # 1-row degrees-of-freedom aggregate cross-joined to the 1-row statistic
    "q_chi2_type_dow": {"BNLJ"},
    # 1-row corpus-size aggregate broadcast to the (≤|brands|²) pair table
    "q_brand_affinity_lift": {"BNLJ"},
    # 1-row grand-total broadcast to the ≤9 digit rows / ≤|types| rate rows
    "q_benford_digit_audit": {"BNLJ"},
    "q_event_rate_wilson_ci": {"BNLJ"},
    # pairwise-slope expansion of the ~2.4k-row DAILY aggregate (date-range
    # bound, SF-invariant) — the non-equi self-join is a deliberate broadcast
    # nested loop; the raw fact table is never self-joined
    "q_theil_sen_trend": {"BNLJ"},
    # two co-partitioned per-customer aggregates full-outer-joined on their
    # shared grouping key — SMJ with no extra exchange is the right plan
    # (neither snapshot side is broadcastable at scale)
    "q_snapshot_diff_cdc": {"SMJ"},
    # 1-row iterative state (Newton β / power-iteration normalizer / grid
    # means) broadcast back to the bounded aggregate — O(grid) work
    "q_cox_ph_newton": {"BNLJ"},
    # 1-row margins + broadcast log-factorial array joined to the O(margin)
    # pmf support grid — linear in the margin, never in the fact table
    "q_fisher_exact": {"BNLJ"},
    # 1-row count broadcast to the bounded day grid for plotting positions
    "q_shapiro_francia": {"BNLJ"},
    # deliberate |days|² range join over the BOUNDED (SF-invariant) day
    # grid — the minimax isotonic closed form; facts are rolled up first
    "q_isotonic_regression": {"BNLJ"},
    # day-range self-joins over the bounded day grid (rolling median/MAD)
    "q_hampel_filter": {"BNLJ"},
    # 5-row lambda grid / per-lambda mean broadcast to one fact pass
    "q_boxcox_lambda_grid": {"BNLJ"},
    # <=16 candidate models broadcast to a single scoring pass
    "q_ransac_line": {"BNLJ"},
    # 1-row OLS coefs / calibration count / conformal radius broadcast to
    # the bounded day grid
    "q_conformal_interval": {"BNLJ"},
    # 1-row medians + 8-row histogram margins broadcast over the hour grid
    "q_transfer_entropy": {"BNLJ"},
    # 41-row slope grid and its candidate table broadcast to two fact passes
    "q_lad_regression_grid": {"BNLJ"},
    # query-bounded brute-force ideal ranking (the NDCG denominator) +
    # 10-row per-query DCG/IDCG join — the LSH side stays the bucket join
    "q_ndcg_at_k": {"BNLJ", "SMJ"},
    # 3x3 margin grid + 1-row total broadcast
    "q_weighted_kappa": {"BNLJ"},
    # 1-row calendar-span / SES-level / trend state broadcast to bounded grids
    "q_safety_stock": {"BNLJ"},
    "q_theta_forecast": {"BNLJ"},
    # 4-row horizon grid joined to the bounded hour-grid CIF by range
    "q_competing_risks": {"BNLJ"},
    # |days|² pair expansion over the bounded day grid (repeated medians)
    "q_siegel_repeated_medians": {"BNLJ"},
    # 3-row gap-parameter grid broadcast to one conditional aggregation
    "q_sessionization_gap_sweep": {"BNLJ"},
    # 1-row block-count broadcast to the 1-row L statistic
    "q_page_trend_test": {"BNLJ"},
    # audit-sample pair probe (40 md5-ranked vectors) + 3-row k grid
    "q_matryoshka_truncation": {"BNLJ"},
    # 1-row cell-count/total broadcasts over per-vector error sums
    "q_pq_distortion": {"BNLJ"},
    # 1-row grand-median + k-row margins broadcast to the group cells
    "q_moods_median_test": {"BNLJ"},
    # |labels|² centroid grid (<=25 rows) via broadcast non-equi pair join
    "q_embedding_class_separation": {"BNLJ"},
    # 1-row lognormal fit broadcast to the ECDF pass
    "q_doc_length_lognormal_ks": {"BNLJ"},
    # 5-row threshold grid broadcast to one conditional aggregation
    "q_mean_excess_function": {"BNLJ"},
    # 1-row MLE fit broadcast to the per-user scoring pass
    "q_model_selection_aic": {"BNLJ"},
    # 1-row centerline broadcast to the bounded day grid
    "q_p_chart": {"BNLJ"},
    # keyed basket self-join (<=25 brands/user) + broadcast support tables
    "q_rule_metrics_extended": {"SMJ"},
    # 3-row shingle-size grid broadcast to the blocked candidate pairs
    "q_shingle_size_sweep": {"BNLJ"},
    "q_dfa_exponent": {"BNLJ"},
    "q_eigenvector_centrality": {"BNLJ"},
    # keyed per-user self-join for rating pairs: fan-out bounded by the
    # ≤25-brand catalog per user; neither ratings side is broadcastable at
    # scale so the shuffle-merge join is the right plan
    "q_slope_one": {"SMJ"},
    # per-class x 10-bucket dense grid: the 10-row global distribution is
    # broadcast-cross-joined to the class list — O(classes x 10) by design
    "q_t_closeness": {"BNLJ"},
    # brute-force similarity is deliberately all-pairs (the oracle baseline
    # that the LSH/IVF variants beat at scale)
    "q_knn_bruteforce": {"BNLJ"},
    "q_dedup_embedding_cosine": {"BNLJ"},
    # IVF probe: vectors join the (tiny, broadcast) centroid set on a
    # non-equi nearest-cell condition
    "q_knn_ivf": {"BNLJ"},
    # deliberate unbucketed fact-fact joins (the shapes AQE handles):
    "q20_potential_promotion": {"SMJ"},
    "q21_waiting_supplier": {"SMJ"},
    # (r4: connected components moved to checkpointed star edges — its
    # plan now carries no red-flag joins, so no allowlist entry remains)
    # edge-list build is a fact-fact star (lineitem x orders SMJ) + per-round
    # spine joins; rank contributions pre-aggregate to <=|nodes| and
    # broadcast, but the 4-table edge build keeps two SMJs at this size
    "q_pagerank_nations": {"SMJ"},
    # same 4-table trade-graph edge build as pagerank (lineitem x orders
    # SMJ); the BFS frontier itself always joins broadcast — round 0's
    # literal 1-row seed even constant-folds its equi-key (src=0), which
    # Spark plans as a 1-row-build BNLJ
    "q_bfs_nation_hops": {"SMJ", "BNLJ"},
    # 1-row exact-median aggregate cross-joined back to the |days| grid
    "q_runs_test": {"BNLJ"},
    # 1-row control-limit aggregate cross-joined back to the |days| grid
    "q_xmr_control_chart": {"BNLJ"},
    # deliberate cross with the ≤|labels| (10-row) centroid table: every
    # vector scores against every centroid, map-side
    "q_silhouette_by_label": {"BNLJ"},
    # basket self-join is key-local (both sides cluster on l_orderkey, one
    # co-partitioned shuffle, ≤7-line baskets bound the pair expansion)
    "q_assoc_rules_types": {"SMJ"},
    # day-keyed self-join of the top-5-brand daily grid (≤5 rows per day;
    # the static planner picks SMJ before AQE sees the grid is tiny)
    "q_brand_cannibalization": {"SMJ"},
    # bipartite projection: the lineitem x orders incidence build plus the
    # customer-keyed self-join of the deduped (supplier, customer) set —
    # both are the correct co-partitioned shuffle joins at scale; r5 adds
    # two more static SMJs (the per-supplier audience-size sa/sb joins,
    # whose broadcast hints were removed as corpus-scaled — AQE converts
    # them to broadcast at runtime while sizes permit)
    "q_supplier_audience_overlap": {"SMJ"},
    # same 4-table trade-graph edge build as pagerank/BFS (lineitem x
    # orders SMJ); wedge enumeration runs on the collapsed ≤|nations|²
    # edge set where the static planner may still pick SMJ pre-AQE
    "q_clustering_coefficient": {"SMJ"},
    # 1-row stats/marginal aggregates cross-joined back to a bounded grid
    # (contingency cells, bucket grid, moment rows) — O(grid) work
    "q_cramers_v": {"BNLJ"},
    "q_js_divergence": {"BNLJ"},
    "q_psi_value_drift": {"BNLJ"},
    "q_kruskal_wallis": {"BNLJ"},
    # post-aggregate pair expansion of the ~80-row monthly grid (a < b
    # non-equi broadcast) + 1-row month-count cross join
    "q_kendall_tau": {"BNLJ"},
    # 9-row decile spine joined to ranked rows on the computed rank — a
    # broadcast non-equi pick of 9 rows per side
    "q_qq_deciles": {"BNLJ"},
    # trade-graph threshold: 1-row (total_w, n_edges) aggregate broadcast
    # to the ≤|nations|² edge list before the integer w·n > total cut
    "q_kcore_trade": {"BNLJ"},
    "q_label_propagation": {"BNLJ"},
    # same 1-row threshold BNLJ, plus the 4-table trade-graph edge build
    # (lineitem x orders SMJ) shared with pagerank/BFS
    "q_link_prediction": {"BNLJ", "SMJ"},
    # 1-row corpus-count aggregate broadcast to the ≤|sizes| histogram rows
    "q_dedup_cluster_sizes": {"BNLJ"},
    # per-iteration 1-row norm aggregate cross-joined to the d-row vector
    "q_pca_power_iteration": {"BNLJ"},
    # k-row seed spine cross-joined map-side + 1-row member/bit counts
    # broadcast back to the 1-row probe summary
    "q_bloom_filter_audit": {"BNLJ"},
    # 1-row max-ts anchor broadcast to every event (the decay reference)
    "q_time_decay_score": {"BNLJ"},
    # 1-row residual-RMS aggregate cross-joined back to the daily grid
    "q_stl_anomaly_days": {"BNLJ"},
    # 1-row (total, k) aggregate cross-joined to the |langs| rows
    "q_class_weights": {"BNLJ"},
    # 1-row grand-mean / world-total aggregates broadcast to the demeaned
    # fact rows (FE) or the |nations|×|types| flow grid (RCA)
    "q_fixed_effects_ols": {"BNLJ"},
    "q_rca_trade_index": {"BNLJ"},
    # 1-row total-spend aggregate cross-joined to the 10 decile rows
    "q_lorenz_curve": {"BNLJ"},
    # 1-row non-null row count broadcast to every exploded key row
    "q_json_key_audit": {"BNLJ"},
    # 1-row corpus-count broadcast onto the |lang|×|vocab| tf grid (replaces
    # a separate count() job with an in-plan broadcast)
    "q_tfidf_top_terms": {"BNLJ"},
    # 1-row pooled/total aggregates cross-joined back to the |groups| grid
    # (jackknife replicates, EB shrinkage weights)
    "q_jackknife_se": {"BNLJ"},
    "q_eb_shrinkage": {"BNLJ"},
    # 1-row total-revenue broadcast to the 3×3 class matrix
    "q_abc_xyz_matrix": {"BNLJ"},
    # 5-row lag spine + 1-row mean/denominator broadcasts over the daily
    # return grid (deliberate lagged pair expansion on the grid)
    "q_ljung_box": {"BNLJ"},
    # 1-row weight-total / leftover-seat aggregates over the |strata| grid
    "q_neyman_allocation": {"BNLJ"},
    # 1-row anchor week + three 1-row set sizes cross-joined to one row
    "q_capture_recapture": {"BNLJ"},
    # 1-row corpus stats (n_docs/avgdl, doc count) broadcast to the
    # (doc,term) / term grids
    "q_bm25_top_terms": {"BNLJ"},
    "q_token_burstiness": {"BNLJ"},
    # 1-row class-total / grand-mean / set-size aggregates broadcast to
    # bounded grids (threshold scan, daily grid, coverage summary)
    "q_decision_stump": {"BNLJ"},
    "q_cold_start_coverage": {"BNLJ"},
    "q_eta_squared_dow": {"BNLJ"},
    # per-iteration 1-row coefficient state broadcast to the feature
    # histogram; 1-row grand-mean / component aggregates for ICC
    "q_logistic_newton": {"BNLJ"},
    "q_design_effect_icc": {"BNLJ"},
    # deliberately all-pairs leave-one-out eval (the exact baseline the
    # LSH/IVF paths approximate), like q_knn_bruteforce
    "q_knn_classifier_eval": {"BNLJ"},
    # 1-row aggregate state (total, mean, OLS fit, boundary counts) cross-
    # joined back to a calendar-bounded or constant-size grid — O(grid)
    # work, the scalar-subquery pattern:
    "q_kmv_distinct_estimate": {"BNLJ"},  # 1-row kth-hash x 1-row exact count
    "q_cvar_expected_shortfall": {"BNLJ"},  # tail rows carry 1-row n/k state
    "q_mann_kendall": {"BNLJ"},  # S/n/ties 1-row aggregates x pairwise DAILY grid
    "q_pacf_durbin_levinson": {"BNLJ"},  # 1-row mean broadcast to daily grid
    "q_ar2_yule_walker": {"BNLJ"},  # 1-row fit x 1-row last-obs x 1-row mean
    "q_dft_periodogram": {"BNLJ"},  # 5-row period spine crossed to daily grid
    "q_durbin_watson": {"BNLJ"},  # 1-row OLS fit broadcast to daily grid
    "q_breusch_pagan": {"BNLJ"},  # same OLS-fit broadcast as durbin_watson
    "q_chi2_hash_uniformity": {"BNLJ"},  # 1-row total x 16 bucket rows
    "q_hurst_rs": {"BNLJ"},  # 4-row size spine x daily grid; 1-row fit x 4 sizes
    "q_sprt_ab_sequential": {"BNLJ"},  # 1-row totals x 1-row first crossing
    "q_price_endings": {"BNLJ"},  # 1-row total x 100 ending buckets
    # sample-bounded pairwise distortion measurement (190 pairs by
    # construction); the corpus-wide projection itself is equi-join only
    "q_jl_projection_distortion": {"BNLJ"},
    # deliberately all-pairs leave-one-out ranking eval (exact baseline),
    # like q_knn_bruteforce / q_knn_classifier_eval
    "q_retrieval_mrr": {"BNLJ"},
    # 1-row measured-concurrency aggregate x 1-row lambda/W aggregate
    "q_littles_law": {"BNLJ"},
    # 1-row total broadcast to the ≤|QI-classes| / folds×labels grid
    "q_k_anonymity": {"BNLJ"},
    "q_kfold_balance": {"BNLJ"},
    # 1-row sigma / fold aggregates cross-joined to the calendar-bounded
    # daily grid (PH) or the ≤35-cell factorial grid (two-way ANOVA)
    "q_page_hinkley": {"BNLJ"},
    "q_two_way_anova": {"BNLJ"},
    # 1-row grand-total normalization + 1-row deviation aggregates over
    # the ≤|nations|² balanced matrix
    "q_ipf_matrix_balancing": {"BNLJ"},
    # 1-row OLS-fit/MSE broadcast to the daily grid; 30-day grid spine
    # crossed with the per-user lifetime rollup (calendar-bounded)
    "q_cooks_distance": {"BNLJ"},
    "q_logrank_test": {"BNLJ"},
    # 4-table trade-graph edge build (lineitem x orders SMJ, as pagerank)
    # + 1-row census aggregates crossed together
    "q_graph_reciprocity": {"SMJ", "BNLJ"},
    # order-key-local basket self-join (SMJ like q_assoc_rules_types) +
    # 1-row normalizer over the ≤|brands| strength vector
    "q_bradley_terry": {"SMJ", "BNLJ"},
    # 1-row grand-total broadcast onto the ≤|states|² transition grid
    "q_markov_entropy_rate": {"BNLJ"},
    # 1-row pooled-slope aggregate crossed onto the ≤|brands| slope grid
    "q_simpsons_paradox": {"BNLJ"},
    # 10-row depth spine non-equi-joined to the ≤|brands| rank table
    "q_rbo_rank_overlap": {"BNLJ"},
    # 1-row crude-effect aggregate crossed onto the 3-row strata grid
    "q_stratified_adjustment": {"BNLJ"},
    # three 1-row ledger counts (delivered/source/merged) crossed together
    "q_exactly_once_dedup_audit": {"BNLJ"},
    # 1-row bounds/exact-quantile/max-score/ECE aggregates broadcast onto
    # the fact rows (bucketing) or the 5-bin grid
    "q_histogram_quantile_error": {"BNLJ"},
    "q_calibration_ece": {"BNLJ"},
    # 1-row CV² moment aggregates crossed; |sources|×20 z-grid pair join
    "q_bullwhip_effect": {"BNLJ"},
    "q_burrows_delta": {"BNLJ"},
    # 1-row corpus-count / 15-row grid broadcasts onto the postings/fact
    # rows — O(n·grid) map work, no pairwise stage
    "q_tfidf_cosine_pairs": {"BNLJ"},
    "q_gaussian_kde": {"BNLJ"},
    # 1-row pair-count / harmonic-expectation aggregates crossed together
    "q_blocking_eval": {"BNLJ"},
    "q_record_statistics": {"BNLJ"},
    # 1-row max-ts anchor broadcast to every event (survivor window)
    "q_survivorship_bias": {"BNLJ"},
    # 1-row midpoint/moment aggregates broadcast to events; Cliff's pair
    # count over the two arm vectors (histogram-contracted in production)
    "q_cuped_adjustment": {"BNLJ"},
    "q_effect_sizes": {"BNLJ"},
    # 1-row mu/sd moments broadcast to the ≤46 PAA segments
    "q_sax_symbolization": {"BNLJ"},
    # 1-row covariance broadcast to the daily grid (closed-form inverse)
    "q_mahalanobis_outliers": {"BNLJ"},
    # 1-row corpus-total / pooled-MSE aggregates broadcast onto the
    # (source,token) grid / 10 pair rows
    "q_kl_coding_cost": {"BNLJ"},
    "q_tukey_hsd": {"BNLJ"},
    # 4-table trade edge build (SMJ like pagerank) + 1-row corpus-total
    # broadcasts over bounded grids
    "q_gravity_model": {"SMJ", "BNLJ"},
    "q_renyi_spectrum": {"BNLJ"},
    # 1-row IQR/moment/day-count aggregates crossed to 1-row outputs
    "q_optimal_bins": {"BNLJ"},
    "q_effective_sample_size": {"BNLJ"},
    # 1-row vector-count broadcast onto the 64² covariance cells
    "q_effective_rank": {"BNLJ"},
    # 1-row lambda-hat broadcast to the gap grid; 4-table trade edge
    # build (SMJ) + 1-row total-mass broadcast onto ≤|regions| rows
    "q_interarrival_exponential_ks": {"BNLJ"},
    "q_trade_modularity": {"SMJ", "BNLJ"},
    # 1-row totals/ACF aggregates crossed onto tiny grids
    "q_good_turing": {"BNLJ"},
    "q_mean_reversion_half_life": {"BNLJ"},
    # 1-row test-total broadcast onto the parts grid
    "q_topk_policy_regret": {"BNLJ"},
    # 5-row k spine / 1-row positives total broadcast over the rank grid
    "q_pr_curve": {"BNLJ"},
    # 4-table trade edge build (SMJ) + per-half-step 1-row L2 normalizer
    "q_hits_hubs_authorities": {"SMJ", "BNLJ"},
    # orderkey-clustered star join (SMJ); 1-row totals over tiny grids
    "q_coupon_collector": {"SMJ", "BNLJ"},
    "q_wasserstein_1d": {"BNLJ"},
    "q_mg1_queue_wait": {"BNLJ"},
    # support-histogram cross (≤|support|² weighted grid) + 1-row totals
    "q_hodges_lehmann": {"BNLJ"},
    "q_youden_threshold": {"BNLJ"},
    # 4-table trade edge build (SMJ) + census 1-row aggregates crossed;
    # 1-row split-point/pool aggregates broadcast over token/study grids
    "q_smallworld_sigma": {"SMJ", "BNLJ"},
    "q_trending_tokens": {"BNLJ"},
    "q_meta_analysis": {"BNLJ"},
    # 4-table star rollup (SMJ) + broadcast margins over the cell grid
    "q_shift_share": {"SMJ", "BNLJ"},
    # sample-bounded pairwise sims; 1-row peak/trough/total aggregates
    "q_similarity_histogram": {"BNLJ"},
    "q_hour_type_volume": {"BNLJ"},
    # 100-row divisor spine / 1-row VaR cutoff broadcast over grids
    "q_dhondt_apportionment": {"BNLJ"},
    "q_var_backtest": {"BNLJ"},
    # 4-table trade edge build (SMJ) + 8-node club / 1-row load broadcasts
    "q_rich_club": {"SMJ", "BNLJ"},
    "q_erlang_blocking": {"BNLJ"},
    # 3-row window spine / 1-row interval bounds broadcast over grids
    "q_fano_factor": {"BNLJ"},
    "q_forecast_interval_coverage": {"BNLJ"},
    # 1-row norm/weight/ideal aggregates broadcast over the ≤|brands| grid
    "q_topsis_ranking": {"BNLJ"},
    # 1-row midpoint/threshold/total aggregates broadcast over the grids
    "q_cohort_quality_auc": {"BNLJ"},
    "q_peak_over_threshold": {"BNLJ"},
    # 1-row entropy/variance/totals aggregates cross-joined back onto the
    # ≤6 pattern rows / 9 lag rows / ≤50 forecast-bin grid
    "q_permutation_entropy": {"BNLJ"},
    "q_variogram_daily": {"BNLJ"},
    "q_brier_decomposition": {"BNLJ"},
    # grid-bounded pairwise template match (~2.4k-row daily grid self-join)
    # plus the 1-row tolerance broadcast
    "q_sample_entropy": {"BNLJ"},
    # per-stage 1-row coefficient sets (OLS, rho) broadcast onto the grid
    "q_cochrane_orcutt": {"BNLJ"},
    # 1-row total-energy aggregate broadcast onto the 5 level rows
    "q_haar_energy": {"BNLJ"},
    # 1-row full-mean/boot, total-power/entropy aggregates cross-joined
    # onto the 1-row / 16-frequency grids
    "q_poisson_bootstrap_ci": {"BNLJ"},
    "q_spectral_entropy": {"BNLJ"},
    # 4-table trade edge build (lineitem x orders SMJ) shared with
    # pagerank/BFS; per-sweep rating joins broadcast
    "q_colley_ranking": {"SMJ"},
    # fixed 23-point evaluation grid broadcast across customers
    "q_kernel_regression_nw": {"BNLJ"},
}

BY_DESIGN["q_granger_causality"] = set()  # pure window + 1-row moments
BY_DESIGN["q_process_capability"] = {"SMJ"}  # lineitem x orders clustered-key star join
# 1-row mean/denominator aggregates broadcast onto the <=25-nation grid
BY_DESIGN["q_moran_geary"] = {"BNLJ", "SMJ"}  # region-keyed self-join of the 25-row grid plans SMJ pre-AQE
# day-keyed self-join of the bounded |brands|x|days| grid (pre-AQE SMJ)
BY_DESIGN["q_copeland_ranking"] = {"SMJ"}
# per-Newton-step 1-row T broadcast onto the |users| rate table; 1-row
# limit/moment aggregates onto the daily grid
BY_DESIGN["q_che_lru_hit_ratio"] = {"BNLJ"}
BY_DESIGN["q_ewma_control_chart"] = {"BNLJ"}
# 1-row global-mean aggregate broadcast onto the fact scan / nation grid
BY_DESIGN["q_theil_index"] = {"BNLJ"}
# 1-row calendar-span aggregate broadcast onto the ≤|brands| policy grid
BY_DESIGN["q_eoq_policy"] = {"BNLJ"}
# 1-row N / marginal-sum aggregates crossed onto the ≤|types|×2 cell grid
BY_DESIGN["q_gtest_independence"] = {"BNLJ"}
# 1-row global-mean threshold broadcast onto the fact scan
BY_DESIGN["q_mcc_stump"] = {"BNLJ"}
# 1-row corpus-anchor broadcast onto the per-user rollup
BY_DESIGN["q_rmst"] = {"BNLJ"}
# 1-row anchor-month broadcast + horizon≥k non-equi join of the ≤|span-months| k-grid
BY_DESIGN["q_retention_decay_fit"] = {"BNLJ"}
# fixed 201-point quadrature grid crossed with the 2-arm posterior (and
# itself for the 201² loss sum) — constant-size by construction
BY_DESIGN["q_bayes_ab_grid"] = {"BNLJ", "CARTESIAN"}
# per-Newton-step 1-row β broadcast onto the |users| feature rollup
BY_DESIGN["q_poisson_glm_newton"] = {"BNLJ"}
# 1-row pooled-stats broadcast onto the ≤|nations| means grid
BY_DESIGN["q_james_stein"] = {"BNLJ"}
# 1-row threshold broadcast onto the fact scan before the segment rollup
BY_DESIGN["q_fairness_audit"] = {"BNLJ"}
# customer-key-local incidence self-join (co-partitioned, |brands|-bounded
# fan-out, as q_supplier_audience_overlap) + lineitem x orders star
BY_DESIGN["q_item_item_cosine"] = {"SMJ"}
# 1-row max-m / dims aggregates broadcast onto the ≤|brands| rank-sum grid;
# lineitem x orders star SMJ
BY_DESIGN["q_kendall_w"] = {"BNLJ", "SMJ"}
# 1-row subject-count broadcast onto the 3-category share grid
BY_DESIGN["q_fleiss_kappa"] = {"BNLJ"}
# 1-row total broadcast onto the ≤|types| posterior grid
BY_DESIGN["q_dirichlet_multinomial"] = {"BNLJ"}
# batch 134: three 1-row closed-form RSS aggregates cross-joined into the
# 1-row F statistic (extras126.py:161) — verified each broadcast side is
# the output of _rss_closed (a single .agg, always exactly 1 row)
BY_DESIGN["q_chow_test"] = {"BNLJ"}
# batch 134: two 1-row segment-RSS aggregates crossed into the 1-row GQ
# F ratio (extras126.py:238) — same _rss_closed 1-row broadcasts
BY_DESIGN["q_goldfeld_quandt"] = {"BNLJ"}
# r7: the TPC-H Q15 scalar max is a 1-row aggregate broadcast onto the
# checkpointed supplier-revenue grid (replacing the single-task
# window-max over the data-scaled grid — tpch2.py q15_top_supplier)
BY_DESIGN["q15_top_supplier"] = {"BNLJ"}
# r7: the dataset-max order date is a 1-row aggregate broadcast onto the
# checkpointed customer-lifetime grid (replacing the single-task
# window-max over the data-scaled grid — extras17/extras36)
BY_DESIGN["q_kaplan_meier_retention"] = {"BNLJ"}
BY_DESIGN["q_nelson_aalen"] = {"BNLJ"}
# batch 134: 1-row (n, mu) moment aggregate broadcast onto the bounded
# day grid, then the 1-row sd re-broadcast (extras126.py:315,336)
BY_DESIGN["q_buishand_range"] = {"BNLJ"}
# batch 135: shared _daily_z helper broadcasts the 1-row (n, mu) moments
# and the 1-row sd onto the bounded day grid (extras127.py:70,84)
BY_DESIGN["q_cramer_von_mises"] = {"BNLJ"}
BY_DESIGN["q_watson_u2"] = {"BNLJ"}
BY_DESIGN["q_anderson_darling_normal"] = {"BNLJ"}
# batch 137: 1-row (n, mu) moment aggregate broadcast onto the bounded day
# grid for the central 2nd/3rd/4th power sums (extras129.py) — verified the
# broadcast side is a single .agg (always exactly 1 row)
BY_DESIGN["q_dagostino_k2"] = {"BNLJ"}
# batch 137: non-equi g<g' pair join of the ≤(5 priorities × 50 quantities)
# count grid with itself, plus two 1-row moment aggregates crossed into the
# statistic (extras129.py) — the fact table is never self-joined
BY_DESIGN["q_jonckheere_terpstra"] = {"BNLJ"}
# batch 138: two 1-row corpus-total aggregates crossed onto the ≤256-row
# hashed-bucket model table (extras130.py) — the document scan only ever
# hash-joins the broadcast 256-row log-ratio model
BY_DESIGN["q_dsir_importance_weights"] = {"BNLJ"}
# batch 139: three 1-row k-th-hash sketch outputs (rn == k filter on the
# bottom-k window) crossed into the 1-row estimate row (extras131.py)
BY_DESIGN["q_kmv_set_ops"] = {"BNLJ"}
# r6 kmeans rewrite: the k×64 centroid grid collapses to ONE row (array
# of structs) cross-attached to the vectors so assignment is a pure
# per-row fold — the audited 1-row scalar-attach pattern (always 1 row
# by construction: a global collect_list aggregate)
BY_DESIGN["q_kmeans_lloyd"] = {"BNLJ"}
# batch 140: unigram and bigram clipped-precision aggregates of the same
# candidate-pair set joined on their shared (da, db) grouping key — SMJ is
# the right plan (neither side broadcastable at scale); plus the pre a/b
# prefix-hash self-join (extras132.py)
BY_DESIGN["q_bleu_pairs"] = {"SMJ"}
# batch 140: three unrolled ESD rounds, each broadcasting a 1-row mean/sd
# aggregate onto the bounded day grid (extras132.py — esd_round's m and s
# are single .agg outputs, always exactly 1 row)
BY_DESIGN["q_generalized_esd"] = {"BNLJ"}
# batch 141: 1-row OLS-slope aggregate crossed into the 21-row slope grid,
# which broadcasts onto the bounded day grid (extras133.py)
BY_DESIGN["q_quantile_regression_grid"] = {"BNLJ"}
# batch 141: 1-row grand-total moment aggregate broadcast onto the
# ≤|nations| per-nation moment grid (extras133.py)
BY_DESIGN["q_benjamini_yekutieli"] = {"BNLJ"}
# batch 142: fixed 200-row permutation grid + 1-row size/observed-diff
# aggregates crossed onto the bounded day grid (extras134.py) — B is a
# constant, never scales with the fact table
BY_DESIGN["q_permutation_test_mean"] = {"BNLJ"}
# batch 142: bigram and unigram test-vs-train distinct-set equi-joins on
# (lang, gram) — co-keyed SMJs, neither side broadcastable at corpus scale
BY_DESIGN["q_ngram_novelty"] = {"SMJ"}
# batch 143: the 1-row OLS fit (global .agg -> fit -> prese, each exactly
# 1 row) broadcast onto the bounded day grid for residual scoring
# (extras135.py:428,441) — same 1-row-model-broadcast shape as q_chow_test
BY_DESIGN["q_causal_impact_lite"] = {"BNLJ"}
# batch 144: 1-row total broadcast onto the 9 digit rows (benford); 1-row
# (n, mu, sd) moment aggregate broadcast onto the bounded day grid
# (cusum / ewma) — each broadcast side is a single .agg, always 1 row
BY_DESIGN["q_benford_law"] = {"BNLJ"}
BY_DESIGN["q_cusum_mean_shift"] = {"BNLJ"}
BY_DESIGN["q_ewma_chart"] = {"BNLJ"}
# batch 145: 1-row global max-order-date aggregate broadcast onto the
# customer grain for recency (extras137.py) — single .agg, always 1 row
BY_DESIGN["q_rfm_segmentation"] = {"BNLJ"}
# batch 147: the 15-row lag dimension broadcast-crossed onto the bounded
# day grid before the rn+lag equi-join (ccf); 1-row grand-total and 1-row
# Monday-reference aggregates broadcast onto the 7 DOW rows (dow_effect)
BY_DESIGN["q_ccf_lead_lag"] = {"BNLJ"}
BY_DESIGN["q_dow_effect_ols"] = {"BNLJ"}
# batch 148: 1-row distinct-day count broadcast onto the 1-row peak-hour
# aggregate (erlang); 1-row distinct-year count broadcast onto the part
# grain (eoq) — each broadcast side is a single .agg, always 1 row
BY_DESIGN["q_erlang_c_staffing"] = {"BNLJ"}
BY_DESIGN["q_eoq_order_quantity"] = {"BNLJ"}
# batch 149: 5-row tau dimension broadcast onto the bounded day grid
# (allan); bounded-grid self-product for the pairwise |dx| V-stat
# (energy — ~2.4k² cells regardless of SF, facts collapse to the
# calendar first, same family as the Hampel/DFA bounded quadratics)
BY_DESIGN["q_allan_variance"] = {"BNLJ"}
BY_DESIGN["q_energy_distance"] = {"BNLJ"}
# batch 150: 1-row mean + 29-row period dimension broadcast onto the
# bounded day grid (periodogram); bounded-grid self-product for the
# z-score pair plot (recurrence — same family as energy_distance); 1-row
# beta prior broadcast onto the part grain (shrinkage)
BY_DESIGN["q_periodogram_peak"] = {"BNLJ"}
BY_DESIGN["q_recurrence_rate"] = {"BNLJ"}
BY_DESIGN["q_beta_binomial_shrinkage"] = {"BNLJ"}
# batch 151: 4-row depth dimension broadcast-crossed onto events / the
# key list for the sketch build+probe — bounded, and the counter table
# is a fixed 1024 cells
BY_DESIGN["q_countmin_sketch"] = {"BNLJ"}
# batch 151: bounded cross-group day-grid pair count (broadcast one
# side) for the pair-count effect sizes — same family as energy_distance
BY_DESIGN["q_cliffs_delta"] = {"BNLJ"}
# batch 153: 1-row exact-median aggregate broadcast next to the 1-row
# metric panel (median_absolute_pct_error) — single .agg, always 1 row
BY_DESIGN["q_median_absolute_pct_error"] = {"BNLJ"}
# batch 154: 1-row (bias, sd) limits aggregate broadcast back onto the
# part-grain pairs for the outside-LoA count — single .agg, always 1 row
BY_DESIGN["q_bland_altman"] = {"BNLJ"}
# batch 155: 1-row calendar-period count broadcast onto the part grain
# for ADI — single .agg, always 1 row
BY_DESIGN["q_intermittency_profile"] = {"BNLJ"}
# batch 156: 1-row population total broadcast onto the cumulative-value
# rows for the interval-crossing selection — single .agg, always 1 row
BY_DESIGN["q_monetary_unit_sampling"] = {"BNLJ"}
# batch 157: 2-row group moments x 1-row pooled slope / grand mean
# broadcasts (ancova) — each broadcast side a single bounded .agg
BY_DESIGN["q_ancova"] = {"BNLJ"}
# batch 158: 5-row context-budget dimension broadcast onto the doc
# token counts — bounded dimension cross
BY_DESIGN["q_context_budget_fit"] = {"BNLJ"}
# batch 159: 1-row calendar/max-month broadcasts onto the customer or
# age grain (life_table, clv); 270-row SES weight table broadcast onto
# the bounded day grid before the rn-1-k equi-join (ses_grid)
BY_DESIGN["q_life_table"] = {"BNLJ"}
BY_DESIGN["q_customer_lifetime_value"] = {"BNLJ"}
BY_DESIGN["q_ses_grid_search"] = {"BNLJ"}
# batch 160: 5-row cut dimension onto the bounded day grid (placebo);
# 1-row date-range / event-date / baseline broadcasts (did, event_study)
BY_DESIGN["q_placebo_cutpoints"] = {"BNLJ"}
BY_DESIGN["q_difference_in_differences"] = {"BNLJ"}
BY_DESIGN["q_event_study_car"] = {"BNLJ"}
# batch 161: 1-row C(n,2)-sum aggregates crossed into the ARI (rand);
# 1-row (mu, sd) moments broadcast onto the day grid (westgard)
BY_DESIGN["q_cluster_rand_index"] = {"BNLJ"}
BY_DESIGN["q_westgard_rules"] = {"BNLJ"}
# batch 162: 1-row node/edge/reach count aggregates crossed into the
# summary row (two_hop)
BY_DESIGN["q_two_hop_reachability"] = {"BNLJ"}
# batch 163: 7-row octile dimension broadcast onto the ranked bounded
# day grid for the rank-selection pivot
BY_DESIGN["q_quantile_skew_kurtosis"] = {"BNLJ"}
# batch 164: 1-row max-revenue / date-range broadcasts (bcg); the
# 12-round hitting iteration chains broadcast joins on the bounded
# nation graph (hitting)
BY_DESIGN["q_bcg_matrix"] = {"BNLJ"}
# batch 165: 1-row model-constant broadcasts onto the test bigrams
# (kneser_ney); bounded-graph P.P self-join lineage repeats the fact
# SMJ under the cache (burt, same shape as q_random_walk_hitting)
BY_DESIGN["q_ngram_lm_kneser_ney"] = {"BNLJ"}
BY_DESIGN["q_burt_constraint"] = {"BNLJ", "SMJ"}
# batch 166: removal dimension broadcast-crossed onto the bounded
# transition matrix + 1-row base-conversion broadcast (removal attr);
# 1-row diameter/radius summary crossed onto per-node rows (ecc);
# fixed-200-vector pair expansion + 1-row count broadcast (isotropy);
# the cached bounded-graph lineage repeats the fact SMJ (ecc, attr)
BY_DESIGN["q_markov_removal_attribution"] = {"BNLJ", "SMJ"}
BY_DESIGN["q_eccentricity_diameter"] = {"BNLJ", "SMJ"}
BY_DESIGN["q_embedding_isotropy"] = {"BNLJ"}
# batch 167: quarantined bounded brute-force recall oracles over the
# fixed 10-query set (probe sweep truth, RRF rankings — same rationale
# as q_knn_bruteforce) + 1-row db-count / moment broadcasts
BY_DESIGN["q_ivf_probe_sweep"] = {"BNLJ", "SMJ"}  # cached candidate
# lineage re-derives the cell-assignment join under ivf_top/scanned
BY_DESIGN["q_reciprocal_rank_fusion"] = {"BNLJ"}
BY_DESIGN["q_embedding_outlier_scan"] = {"BNLJ"}
# batch 168: 1-row max-weight broadcast + threshold dimension onto the
# bounded edge list (percolation); chained 1-row fit/scale broadcasts
# onto the day grid (huber); 1-row totals onto the 5 quintile rows
# (concentration); percolation/huber lineage repeats fact SMJs
BY_DESIGN["q_percolation_threshold"] = {"BNLJ", "SMJ"}
BY_DESIGN["q_huber_regression_irls"] = {"BNLJ"}
BY_DESIGN["q_concentration_curve"] = {"BNLJ"}
# batch 169: quarantined bounded all-pairs miner (hard negatives, same
# rationale as q_knn_bruteforce; production restricts to ANN buckets);
# 1-row pooled-count/moment broadcasts (fligner)
BY_DESIGN["q_hard_negative_mining"] = {"BNLJ"}
BY_DESIGN["q_fligner_killeen"] = {"BNLJ"}
# batch 170: 1-row mean / 12-row lag dimension onto the bounded day
# grid (kpss); 1-row fit/rho broadcasts (engle_granger); 1-row
# threshold/count broadcasts (extremal)
BY_DESIGN["q_kpss_stationarity"] = {"BNLJ"}
BY_DESIGN["q_engle_granger_coint"] = {"BNLJ"}
BY_DESIGN["q_extremal_index"] = {"BNLJ"}
# batch 171: 1-row Cramer fit broadcast back onto the bounded grid for
# the SSE pass (adf)
BY_DESIGN["q_adf_test"] = {"BNLJ"}
# batch 172: 1-row catalog/total broadcasts onto the rec rows (novelty)
# batch 173: 1-row mean/crossing-point broadcasts (lorenz_asymmetry);
# 1-row mean + 20-row lag dimension onto the bounded grid (acf)
BY_DESIGN["q_lorenz_asymmetry"] = {"BNLJ"}
# batch 174: 1-row slope / total broadcasts onto the bounded month or
# digit grids (null trend, benford second digit)
BY_DESIGN["q_null_rate_trend"] = {"BNLJ"}
BY_DESIGN["q_benford_second_digit"] = {"BNLJ"}
# batch 175: 1-row pi0/fit broadcasts onto the <=|nations| study rows
# (qvalues) and the day grid (mediation SSE pass)
BY_DESIGN["q_storey_qvalues"] = {"BNLJ"}
BY_DESIGN["q_mediation_sobel"] = {"BNLJ"}
# batch 176: 1-row fit/sd/total broadcasts onto the bounded day grid or
# customer grain (cusum residuals, hoover)
BY_DESIGN["q_cusum_ols_residuals"] = {"BNLJ"}
BY_DESIGN["q_hoover_index"] = {"BNLJ"}
# batch 177: 1-row VaR / fit / day-count broadcasts onto the bounded
# day grid (expected shortfall, harmonic SSE pass, drawdown summary)
BY_DESIGN["q_expected_shortfall"] = {"BNLJ"}
BY_DESIGN["q_harmonic_regression"] = {"BNLJ"}
BY_DESIGN["q_drawdown_duration"] = {"BNLJ"}
# batch 178: chained 1-row EM parameter broadcasts (gmm); 1-row mean +
# 21-row band table onto the bounded grid (coherence); 1-row mean +
# 3-row lag dimension (yule_walker)
BY_DESIGN["q_gaussian_mixture_em"] = {"BNLJ"}
BY_DESIGN["q_spectral_coherence"] = {"BNLJ"}
BY_DESIGN["q_yule_walker_ar2"] = {"BNLJ"}
# batch 179: 1-row pooled-effect broadcast onto the <=|nations| study
# rows (i2)
BY_DESIGN["q_i2_heterogeneity"] = {"BNLJ"}
# batch 180: 4-row fraction dimension onto the ranked token stream
# (rarefaction); nation-keyed fact star repeats SMJs under the cached
# distinct grain (assortment)
BY_DESIGN["q_rarefaction_curve"] = {"BNLJ"}
BY_DESIGN["q_assortment_overlap_nations"] = {"BNLJ", "SMJ"}
# batch 181: 1-row capacity broadcast onto the ranked part grain
# (knapsack)
BY_DESIGN["q_fractional_knapsack"] = {"BNLJ"}
# batch 182: 1-row zero-discount baseline broadcast onto the ~12
# bucket rows (discount curve)
BY_DESIGN["q_discount_uplift_curve"] = {"BNLJ"}
BY_DESIGN["q_acf_significance"] = {"BNLJ"}
BY_DESIGN["q_recommendation_novelty"] = {"BNLJ", "SMJ"}  # basket fact
# join + customer-keyed co-purchase self-join are both co-keyed SMJs;
# neither side broadcastable at catalog scale
BY_DESIGN["q_random_walk_hitting"] = {"BNLJ", "SMJ"}  # cached edge
# lineage re-derives the one fact equi-join under nodes/outw/probs, so
# the plan string repeats that SMJ; at runtime the cache serves it once
# r4: min/max-year bounds ride a broadcast 1-row cross join (re-derived
# once per ntile branch), replacing the driver-side collect
BY_DESIGN["q_quintile_migration"] = {"BNLJ"}

# name -> exact per-flag occurrence maxima measured from the current plans
# at sf0.001 (regenerate with `profile plans` after intentional plan
# changes; see the module docstring). Unlisted flags default to CARTESIAN 0 / BNLJ 0 / SMJ 1.
MAX_COUNTS = {
    "q11_important_parts": {"BNLJ": 1},
    "q15_top_supplier": {"BNLJ": 1},
    "q_kaplan_meier_retention": {"BNLJ": 1},
    "q_nelson_aalen": {"BNLJ": 1},
    "q_minhash_jaccard_calibration": {"BNLJ": 6},
    "q_dedup_embedding_lsh_pairs": {"BNLJ": 2},
    "q_dedup_embedding_lsh_multiprobe_pairs": {"BNLJ": 2},
    "q_embedding_lsh_recall_calibration": {"BNLJ": 2},
    "q_knn_classifier_eval_sampled": {"BNLJ": 3},
    "q_supplier_audience_overlap": {"SMJ": 3},
    "q_abc_xyz_matrix": {"BNLJ": 1},
    "q_acf_significance": {"BNLJ": 2},
    "q_adf_test": {"BNLJ": 1},
    "q_allan_variance": {"BNLJ": 1},
    "q_ancova": {"BNLJ": 3},
    "q_anderson_darling_normal": {"BNLJ": 2},
    "q_ar2_yule_walker": {"BNLJ": 6},
    "q_bayes_ab_grid": {"CARTESIAN": 1, "BNLJ": 23},
    "q_bcg_matrix": {"BNLJ": 3},
    "q_benford_digit_audit": {"BNLJ": 1},
    "q_benford_law": {"BNLJ": 1},
    "q_benford_second_digit": {"BNLJ": 2},
    "q_benjamini_yekutieli": {"BNLJ": 1},
    "q_beta_binomial_shrinkage": {"BNLJ": 1},
    "q_bfs_nation_hops": {"BNLJ": 4},
    "q_bland_altman": {"BNLJ": 1},
    "q_blocking_eval": {"BNLJ": 3},
    "q_bloom_filter_audit": {"BNLJ": 5},
    "q_bm25_top_terms": {"BNLJ": 1},
    "q_boxcox_lambda_grid": {"BNLJ": 7},
    "q_bradley_terry": {"BNLJ": 1},
    "q_brand_affinity_lift": {"BNLJ": 1},
    "q_breusch_pagan": {"BNLJ": 1},
    "q_brier_decomposition": {"BNLJ": 1},
    "q_buishand_range": {"BNLJ": 2},
    "q_bullwhip_effect": {"BNLJ": 1},
    "q_burrows_delta": {"BNLJ": 4},
    "q_calibration_ece": {"BNLJ": 5},
    "q_capture_recapture": {"BNLJ": 2},
    "q_causal_impact_lite": {"BNLJ": 2},
    "q_ccf_lead_lag": {"BNLJ": 1},
    "q_che_lru_hit_ratio": {"BNLJ": 10},
    "q_chi2_hash_uniformity": {"BNLJ": 1},
    "q_chi2_type_dow": {"BNLJ": 1},
    "q_chow_test": {"BNLJ": 2},
    "q_class_weights": {"BNLJ": 1},
    "q_cliffs_delta": {"BNLJ": 2},
    "q_cluster_rand_index": {"BNLJ": 2},
    "q_clustering_coefficient": {"SMJ": 2},
    "q_cochrane_orcutt": {"BNLJ": 4},
    "q_cold_start_coverage": {"BNLJ": 2},
    "q_colley_ranking": {"SMJ": 4},
    "q_competing_risks": {"BNLJ": 1},
    "q_concentration_curve": {"BNLJ": 1},
    "q_conformal_interval": {"BNLJ": 5},
    "q_context_budget_fit": {"BNLJ": 1},
    "q_cooks_distance": {"BNLJ": 3},
    "q_copeland_ranking": {"SMJ": 2},
    "q_countmin_sketch": {"BNLJ": 2},
    "q_cox_ph_newton": {"BNLJ": 3},
    "q_cramer_von_mises": {"BNLJ": 2},
    "q_cramers_v": {"BNLJ": 1},
    "q_cuped_adjustment": {"BNLJ": 1},
    "q_customer_lifetime_value": {"BNLJ": 1},
    "q_cusum_mean_shift": {"BNLJ": 1},
    "q_cusum_ols_residuals": {"BNLJ": 3},
    "q_dagostino_k2": {"BNLJ": 1},
    "q_decision_stump": {"BNLJ": 1},
    "q_dedup_cluster_sizes": {"BNLJ": 1},
    "q_dedup_embedding_cosine": {"BNLJ": 1},
    "q_design_effect_icc": {"BNLJ": 4},
    "q_dfa_exponent": {"BNLJ": 6},
    "q_dft_periodogram": {"BNLJ": 2},
    "q_dhondt_apportionment": {"BNLJ": 2},
    "q_difference_in_differences": {"BNLJ": 1},
    "q_dirichlet_multinomial": {"BNLJ": 1},
    "q_discount_uplift_curve": {"BNLJ": 1},
    "q_doc_length_lognormal_ks": {"BNLJ": 2},
    "q_dow_effect_ols": {"BNLJ": 2},
    "q_drawdown_duration": {"BNLJ": 1},
    "q_dsir_importance_weights": {"BNLJ": 2},
    "q_durbin_watson": {"BNLJ": 1},
    "q_eb_shrinkage": {"BNLJ": 3},
    "q_eccentricity_diameter": {"BNLJ": 1},
    "q_effect_sizes": {"BNLJ": 2},
    "q_effective_rank": {"BNLJ": 1},
    "q_effective_sample_size": {"BNLJ": 3},
    "q_embedding_class_separation": {"BNLJ": 2},
    "q_embedding_isotropy": {"BNLJ": 1},
    "q_embedding_outlier_scan": {"BNLJ": 1},
    "q_energy_distance": {"BNLJ": 2},
    "q_engle_granger_coint": {"BNLJ": 5},
    "q_eoq_order_quantity": {"BNLJ": 1},
    "q_eoq_policy": {"BNLJ": 1},
    "q_erlang_blocking": {"BNLJ": 1},
    "q_erlang_c_staffing": {"BNLJ": 1},
    "q_eta_squared_dow": {"BNLJ": 4},
    "q_event_rate_wilson_ci": {"BNLJ": 1},
    "q_event_study_car": {"BNLJ": 3},
    "q_events_funnel": {"BNLJ": 2},
    "q_ewma_chart": {"BNLJ": 1},
    "q_ewma_control_chart": {"BNLJ": 1},
    "q_exactly_once_dedup_audit": {"BNLJ": 2},
    "q_expected_shortfall": {"BNLJ": 1},
    "q_extremal_index": {"BNLJ": 4},
    "q_fairness_audit": {"BNLJ": 1},
    "q_fano_factor": {"BNLJ": 1},
    "q_fisher_exact": {"BNLJ": 4},
    "q_fixed_effects_ols": {"BNLJ": 3},
    "q_fleiss_kappa": {"BNLJ": 2},
    "q_fligner_killeen": {"BNLJ": 3},
    "q_forecast_interval_coverage": {"BNLJ": 1},
    "q_fractional_knapsack": {"BNLJ": 1},
    "q_funnel_timebound": {"BNLJ": 2},
    "q_gaussian_kde": {"BNLJ": 2},
    "q_gaussian_mixture_em": {"BNLJ": 5},
    "q_generalized_esd": {"BNLJ": 42},
    "q_goldfeld_quandt": {"BNLJ": 1},
    "q_good_turing": {"BNLJ": 2},
    "q_graph_reciprocity": {"BNLJ": 2},
    "q_gtest_independence": {"BNLJ": 5},
    "q_haar_energy": {"BNLJ": 3},
    "q_hampel_filter": {"BNLJ": 2},
    "q_hard_negative_mining": {"BNLJ": 1},
    "q_harmonic_regression": {"BNLJ": 1},
    "q_histogram_quantile_error": {"BNLJ": 2},
    "q_hodges_lehmann": {"BNLJ": 5},
    "q_hoover_index": {"BNLJ": 1},
    "q_hour_type_volume": {"BNLJ": 2},
    "q_huber_regression_irls": {"BNLJ": 21},
    "q_hurst_rs": {"BNLJ": 5},
    "q_i2_heterogeneity": {"BNLJ": 1},
    "q_interarrival_exponential_ks": {"BNLJ": 1},
    "q_intermittency_profile": {"BNLJ": 1},
    "q_ipf_matrix_balancing": {"BNLJ": 2},
    "q_isotonic_regression": {"BNLJ": 1},
    "q_ivf_probe_sweep": {"BNLJ": 5, "SMJ": 2},
    "q_jackknife_se": {"BNLJ": 3},
    "q_james_stein": {"BNLJ": 2},
    "q_jl_projection_distortion": {"BNLJ": 2},
    "q_jonckheere_terpstra": {"BNLJ": 3},
    "q_js_divergence": {"BNLJ": 1},
    "q_json_key_audit": {"BNLJ": 1},
    "q_k_anonymity": {"BNLJ": 1},
    "q_kcore_trade": {"BNLJ": 2},
    "q_kendall_tau": {"BNLJ": 2},
    "q_kendall_w": {"BNLJ": 2},
    "q_kernel_regression_nw": {"BNLJ": 1},
    "q_kfold_balance": {"BNLJ": 1},
    "q_kl_coding_cost": {"BNLJ": 1},
    "q_kmv_distinct_estimate": {"BNLJ": 1},
    "q_kmeans_lloyd": {"BNLJ": 1},
    "q_kmv_set_ops": {"BNLJ": 2},
    "q_knn_bruteforce": {"BNLJ": 1},
    "q_knn_classifier_eval": {"BNLJ": 1},
    "q_knn_ivf": {"BNLJ": 2},
    "q_kpss_stationarity": {"BNLJ": 3},
    "q_kruskal_wallis": {"BNLJ": 1},
    "q_label_propagation": {"BNLJ": 2},
    "q_lad_regression_grid": {"BNLJ": 1},
    "q_life_table": {"BNLJ": 3},
    "q_link_prediction": {"BNLJ": 2, "SMJ": 2},
    "q_littles_law": {"BNLJ": 1},
    "q_ljung_box": {"BNLJ": 3},
    "q_logistic_newton": {"BNLJ": 3},
    "q_logrank_test": {"BNLJ": 1},
    "q_lorenz_asymmetry": {"BNLJ": 5},
    "q_lorenz_curve": {"BNLJ": 1},
    "q_mahalanobis_outliers": {"BNLJ": 1},
    "q_mann_kendall": {"BNLJ": 3},
    "q_markov_entropy_rate": {"BNLJ": 1},
    "q_markov_removal_attribution": {"BNLJ": 4},
    "q_matryoshka_truncation": {"BNLJ": 1},
    "q_mcc_stump": {"BNLJ": 1},
    "q_mean_excess_function": {"BNLJ": 1},
    "q_mean_reversion_half_life": {"BNLJ": 3},
    "q_median_absolute_pct_error": {"BNLJ": 1},
    "q_mediation_sobel": {"BNLJ": 2},
    "q_meta_analysis": {"BNLJ": 1},
    "q_mg1_queue_wait": {"BNLJ": 1},
    "q_model_selection_aic": {"BNLJ": 1},
    "q_monetary_unit_sampling": {"BNLJ": 1},
    "q_moods_median_test": {"BNLJ": 3},
    "q_moran_geary": {"BNLJ": 4},
    "q_ndcg_at_k": {"BNLJ": 1},
    "q_neyman_allocation": {"BNLJ": 3},
    "q_ngram_lm_kneser_ney": {"BNLJ": 3},
    "q_null_rate_trend": {"BNLJ": 1},
    "q_optimal_bins": {"BNLJ": 1},
    "q_order_size_histogram": {"BNLJ": 1},
    "q_p_chart": {"BNLJ": 1},
    "q_pacf_durbin_levinson": {"BNLJ": 1},
    "q_page_hinkley": {"BNLJ": 5},
    "q_page_trend_test": {"BNLJ": 1},
    "q_pca_power_iteration": {"BNLJ": 11},
    "q_peak_over_threshold": {"BNLJ": 2},
    "q_periodogram_peak": {"BNLJ": 2},
    "q_permutation_entropy": {"BNLJ": 1},
    "q_permutation_test_mean": {"BNLJ": 4},
    "q_placebo_cutpoints": {"BNLJ": 3},
    "q_poisson_bootstrap_ci": {"BNLJ": 2},
    "q_poisson_glm_newton": {"BNLJ": 6},
    "q_pq_distortion": {"BNLJ": 1},
    "q_pr_curve": {"BNLJ": 2},
    "q_price_endings": {"BNLJ": 1},
    "q_psi_value_drift": {"BNLJ": 1},
    "q_qq_deciles": {"BNLJ": 1},
    "q_quantile_regression_grid": {"BNLJ": 2},
    "q_quantile_skew_kurtosis": {"BNLJ": 1},
    "q_quintile_migration": {"BNLJ": 2},
    "q_ransac_line": {"BNLJ": 1},
    "q_rarefaction_curve": {"BNLJ": 1},
    "q_rbo_rank_overlap": {"BNLJ": 1},
    "q_rca_trade_index": {"BNLJ": 1},
    "q_reciprocal_rank_fusion": {"BNLJ": 1},
    "q_recommendation_novelty": {"BNLJ": 2},
    "q_record_statistics": {"BNLJ": 1},
    "q_recurrence_rate": {"BNLJ": 10},
    "q_renyi_spectrum": {"BNLJ": 1},
    "q_retention_decay_fit": {"BNLJ": 2},
    "q_retrieval_mrr": {"BNLJ": 1},
    "q_rfm_segmentation": {"BNLJ": 1},
    "q_rich_club": {"BNLJ": 2},
    "q_rmst": {"BNLJ": 1},
    "q_runs_test": {"BNLJ": 1},
    "q_safety_stock": {"BNLJ": 1},
    "q_sample_entropy": {"BNLJ": 3},
    "q_sax_symbolization": {"BNLJ": 1},
    "q_scalar_subquery": {"BNLJ": 1},
    "q_ses_grid_search": {"BNLJ": 1},
    "q_sessionization_gap_sweep": {"BNLJ": 1},
    "q_shapiro_francia": {"BNLJ": 1},
    "q_shift_share": {"BNLJ": 1},
    "q_shingle_size_sweep": {"BNLJ": 1},
    "q_siegel_repeated_medians": {"BNLJ": 3},
    "q_silhouette_by_label": {"BNLJ": 1},
    "q_similarity_histogram": {"BNLJ": 3},
    "q_simpsons_paradox": {"BNLJ": 1},
    "q_smallworld_sigma": {"BNLJ": 4, "SMJ": 2},
    "q_spectral_coherence": {"BNLJ": 2},
    "q_spectral_entropy": {"BNLJ": 11},
    "q_sprt_ab_sequential": {"BNLJ": 1},
    "q_stl_anomaly_days": {"BNLJ": 1},
    "q_storey_qvalues": {"BNLJ": 1},
    "q_stratified_adjustment": {"BNLJ": 2},
    "q_supplier_pareto": {"BNLJ": 1},
    "q_survivorship_bias": {"BNLJ": 1},
    "q_t_closeness": {"BNLJ": 2},
    "q_tfidf_cosine_pairs": {"BNLJ": 4},
    "q_tfidf_top_terms": {"BNLJ": 1},
    "q_theil_index": {"BNLJ": 3},
    "q_theil_sen_trend": {"BNLJ": 1},
    "q_theta_forecast": {"BNLJ": 2},
    "q_time_decay_score": {"BNLJ": 1},
    "q_token_burstiness": {"BNLJ": 1},
    "q_topk_policy_regret": {"BNLJ": 1},
    "q_topsis_ranking": {"BNLJ": 11},
    "q_trade_modularity": {"BNLJ": 1},
    "q_transfer_entropy": {"BNLJ": 1},
    "q_trending_tokens": {"BNLJ": 5},
    "q_tukey_hsd": {"BNLJ": 2},
    "q_two_hop_reachability": {"BNLJ": 2},
    "q_two_way_anova": {"BNLJ": 2},
    "q_user_power_curve": {"BNLJ": 1},
    "q_var_backtest": {"BNLJ": 1},
    "q_variogram_daily": {"BNLJ": 1},
    "q_wasserstein_1d": {"BNLJ": 3},
    "q_weighted_kappa": {"BNLJ": 2},
    "q_westgard_rules": {"BNLJ": 5},
    "q_xmr_control_chart": {"BNLJ": 1},
    "q_youden_threshold": {"BNLJ": 1},
    "q_yule_walker_ar2": {"BNLJ": 1},
}

_DEFAULT_MAX = {"CARTESIAN": 0, "BNLJ": 0, "SMJ": 1}

# Broadcast-side cardinality class (r4 verdict item 4): a broadcast is safe
# at 100 TB only when its build side is cardinality-bounded (a dim table, a
# 1-row aggregate, a top-k, or a literal grid). The audit re-plans each query
# with auto-broadcast off (profile.hint_plan), so the surviving
# BroadcastExchanges are explicit F.broadcast() hints — hand-made scale
# decisions — and profile.broadcast_fact_flags flags those whose build side
# derives from a fact-class table with no bounding reduction.

# Whitelisted unbounded-fact-broadcast shapes: name -> why the hint is
# intentional. NOTE an explicit F.broadcast hint is NOT demoted by AQE —
# it forces the broadcast at any size — so every entry must argue either
# (a) the build side is bounded in a way the text-plan detector cannot see,
# or (b) the query is a documented scale-quarantined diagnostic whose
# registered production twin avoids the shape. The 100+ hint sites that
# could NOT make that argument (raw customer/supplier/part mid-dims, the
# per-user/per-doc aggregate broadcasts, a grid-vs-users orientation bug in
# q_logrank_test) were FIXED in round 5 instead of whitelisted: hints
# removed so CBO/AQE decides per scale (plans at tested SFs unchanged —
# the optimizer re-derives the same broadcasts from size stats).
BCAST_BY_DESIGN: dict[str, str] = {
    # quarantined all-pairs recall oracles: the corpus-side broadcast IS
    # the documented deliberate-quadratic diagnostic; registered scale
    # twins (extras175 / extras161 / similarity.py LSH-IVF paths) carry
    # the production shape. Swept deliberately, never in the shared sweep.
    "q_dedup_embedding_cosine": "quarantined recall oracle; twin: SemDeDup/LSH paths",
    "q_hard_negative_mining": "quarantined recall oracle; twin: q_hard_negative_mining_ann",
    "q_knn_classifier_eval": "quarantined recall oracle; twin: q_knn_classifier_eval_sampled",
    "q_retrieval_mrr": "quarantined recall oracle; twin: q_retrieval_mrr_ann",
    # IVF centroid seed set: the (vec_id % 200 == 0) slice — |corpus|/200
    # rows by construction (~500 rows at sf5). Grows linearly with the
    # corpus: at ~1e8+ vectors the seed count must be capped (n_cells is a
    # parameter, not a plan change) — the docstrings state this; the hint
    # is correct for any sane n_cells.
    "q_knn_ivf": "centroid seeds = corpus/200; cap n_cells past ~1e8 vectors",
    "q_ivf_probe_sweep": "centroid seeds = corpus/200; cap n_cells past ~1e8 vectors",
    # rank-window boundary rows: the broadcast side is Window -> Filter
    # keeping only per-group boundary rows (|quantiles| / |groups| rows);
    # the detector sees the fact scan but cannot see the filter's
    # selectivity.
    "q_histogram_quantile_error": "window-boundary rows: |quantile_cuts| survive the rank filter",
    "q_levene_test": "window-boundary rows: per-group medians, |groups| rows survive",
    # exact Mann-Whitney pair expansion for the rank-biserial effect size:
    # deliberately O(nA*nB) on the user cohorts (single aggregated output,
    # swept ok at sf5); the rank-sum production form is q_mannwhitney_u /
    # q_auc_mann_whitney.
    "q_effect_sizes": "exact U pair expansion; rank-sum twin: q_mannwhitney_u",
}


def test_whitelists_are_consistent():
    """Every pinned count above the defaults must carry a documented WHY in
    BY_DESIGN, and every BY_DESIGN name must be a registered query — the
    count table can't silently excuse an undocumented shape, and stale
    entries can't linger after a rename.

    The check is deliberately one-directional: a BY_DESIGN (name, flag)
    with NO MAX_COUNTS row is valid documentation, not staleness — the
    documented join may sit inside an eager checkpoint, which the final
    plan shows only as a scan of the checkpointed rows, or may be the
    single SMJ the default already allows."""
    for name, ent in MAX_COUNTS.items():
        implied = {
            f
            for f, n in ent.items()
            if n > _DEFAULT_MAX[f]
        }
        assert implied <= BY_DESIGN.get(name, set()), (
            f"{name}: MAX_COUNTS allows {implied} without a BY_DESIGN reason"
        )
        assert name in REGISTRY, f"{name}: stale MAX_COUNTS entry"
    for name in BY_DESIGN:
        assert name in REGISTRY, f"{name}: stale BY_DESIGN entry"


# Whitelisted single-task global windows/sorts: an ``Exchange
# SinglePartition`` over a fact-class stream with no bounding reduction
# (profile.single_partition_flags) moves every row into ONE task — the
# definitive straggler at 100 TB. name -> why the shape is intentional.
SINGLE_PARTITION_BY_DESIGN: dict[str, str] = {
    # its docstring: a demo-only global ranking over the customer dimension;
    # at scale the two-pass distributed ranking (distrib.py) replaces it
    "q_rank_ntile": "demo-only global ranking over the customer dimension",
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_has_no_unexplained_red_flags(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF)
    plan = formatted_plan(df)
    allowed = MAX_COUNTS.get(name, {})
    over = {
        f: (c, max(allowed.get(f, 0), _DEFAULT_MAX[f]))
        for f, c in flag_counts(plan).items()
        if c > max(allowed.get(f, 0), _DEFAULT_MAX[f])
    }
    assert not over, (
        f"{name}: red-flag operators exceed their pinned maxima "
        f"{{flag: (observed, allowed)}} = {over}"
    )
    sflags = single_partition_flags(plan)
    if sflags and name not in SINGLE_PARTITION_BY_DESIGN:
        raise AssertionError(
            f"{name}: a global window/sort moves a fact-class stream with no "
            f"bounding reduction into one task and has no "
            f"SINGLE_PARTITION_BY_DESIGN rationale: {sflags}"
        )
    # the SAME DataFrame re-planned with auto-broadcast off: surviving
    # BroadcastExchanges are explicit F.broadcast() hints only (re-planning
    # instead of rebuilding skips a second run of the eager checkpoints)
    bflags = broadcast_fact_flags(hint_plan(spark, df))
    if bflags and name not in BCAST_BY_DESIGN:
        raise AssertionError(
            f"{name}: explicitly-hinted broadcast build side derives from "
            f"a fact table with no bounding reduction (grid/dim/1-row/"
            f"top-k) and no BCAST_BY_DESIGN rationale: {bflags}"
        )


def test_bcast_whitelist_is_consistent():
    for name in BCAST_BY_DESIGN:
        assert name in REGISTRY, f"{name}: stale BCAST_BY_DESIGN entry"


def test_single_partition_whitelist_is_consistent():
    for name in SINGLE_PARTITION_BY_DESIGN:
        assert name in REGISTRY, f"{name}: stale SINGLE_PARTITION_BY_DESIGN entry"
