"""Physical-plan regression tests: the scale properties the engine is
designed around must be visible in `.explain`, not just claimed.

- Predicate pushdown + column pruning reach the parquet scan.
- Dimension joins broadcast (fact side never shuffles pre-agg).
- Per-group top-k uses WindowGroupLimit (k rows kept per partition).
- Bucketed co-located joins run with NO shuffle exchange.

If a refactor regresses one of these, correctness tests stay green while
100-TB behavior quietly degrades — these tests make that a failure.
"""

from __future__ import annotations

import uuid as _uuid

import pytest
from pyspark.sql import functions as F

from watermill_spark.analytics.profile import formatted_plan
from watermill_spark.analytics.registry import REGISTRY, load

SF = "/root/testdata/sf0.001"


def test_pushdown_and_pruning_reach_scan(spark):
    """q06 (pure filter+agg): shipdate/discount/quantity predicates appear in
    PushedFilters and the scan reads only the referenced columns."""
    plan = formatted_plan(REGISTRY["q06_forecast_revenue"].fn(spark, SF))
    scan = plan[plan.index("Scan parquet") :]
    pushed = scan[scan.index("PushedFilters") : scan.index("ReadSchema")]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = scan[scan.index("ReadSchema") :].splitlines()[0]
    # 4 referenced columns, none of the other 10+ lineitem columns
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_dim_joins_broadcast_no_sort_merge(spark):
    """q05 (5-way star join): the true-dim joins (nation/region — fixed 25/5
    rows) are broadcast in the STATIC plan. The customer- and supplier-side
    joins lost their explicit broadcast hints in round 5 (both corpus-scaled: a hint
    would force an OOM-class broadcast at 100 TB, and hints are NOT demoted
    by AQE) — so CBO's static estimates may plan them as SortMergeJoin,
    which AQE converts to broadcast at runtime while sizes permit and keeps
    as SMJ at scale: exactly the adaptive behavior we want. Pin: >=2
    broadcast dim joins, at most the two corpus-scaled SMJs, and AQE on."""
    plan = formatted_plan(REGISTRY["q05_nation_revenue"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") <= 2
    assert "AdaptiveSparkPlan" in plan
    # shuffle budget: the final group-by on (n_name), plus at most two
    # exchanges per adaptive corpus-scaled SMJ
    body = plan.split("== Physical Plan ==")[1].split("== ")[0]
    n_shuffles = sum(
        1
        for line in body.splitlines()
        if "+- Exchange" in line or line.strip().startswith("Exchange")
    )
    assert n_shuffles <= 5, body


def test_topk_uses_window_group_limit(spark):
    """Per-group top-k must plan WindowGroupLimit: k rows retained per
    partition before the window sort, not a full materialized rank."""
    plan = formatted_plan(REGISTRY["q_window_topk"].fn(spark, SF))
    assert "WindowGroupLimit" in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing both sides of a join on the key gives a co-located
    sort-merge join with zero Exchange — the 100-TB repeated-join strategy
    (bucket once at ingest, join shuffle-free forever after)."""
    tag = _uuid.uuid4().hex[:8]
    t_orders, t_cust = f"b_orders_{tag}", f"b_cust_{tag}"
    orders = load(spark, SF, "orders")
    customer = load(spark, SF, "customer")
    try:
        (
            orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
            .mode("overwrite").saveAsTable(t_orders)
        )
        (
            customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
            .mode("overwrite").saveAsTable(t_cust)
        )
        # disable broadcast so the join must pick SMJ — the path bucketing
        # optimizes; at real scale both sides outgrow broadcast anyway
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(t_orders).join(
            spark.table(t_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # sanity: result is right too
        assert joined.count() == orders.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")


def test_spread_is_noop_when_well_partitioned(spark):
    """registry.spread must not add a shuffle once the scan already has
    enough partitions (the 100-TB case)."""
    from watermill_spark.analytics.registry import spread

    df = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism * 2)
    assert spread(df) is df


def test_tfidf_topk_broadcast_and_group_limit(spark):
    """q_tfidf_top_terms (r6 single-pass shape): ONE tokenize Generate over
    one documents scan (tf and df both derive from it — the r5 shape
    scanned+tokenized twice and joined tf⨝df on the vocabulary-scale term
    key), no join on term at all, and the per-language top-5 plans
    WindowGroupLimit."""
    import re

    plan = formatted_plan(REGISTRY["q_tfidf_top_terms"].fn(spark, SF))
    # exactly one tokenize pass (formatted mode prints each operator once
    # in the tree and once in the details list)
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_ngram_contamination_broadcasts_heldout(spark):
    """q_ngram_contamination: the held-out shingle set is the broadcast side;
    the training shingle stream must not sort-merge."""
    plan = formatted_plan(REGISTRY["q_ngram_contamination"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_is_single_agg_pass(spark):
    """q_stratified_sample: hash sampling is a pure map-side expression —
    exactly one shuffle (the stratum group-by), no join, no extra exchange."""
    plan = formatted_plan(REGISTRY["q_stratified_sample"].fn(spark, SF))
    body = plan.split("== Physical Plan ==")[1].split("== ")[0]
    n_shuffles = sum(
        1
        for line in body.splitlines()
        if "+- Exchange" in line or line.strip().startswith("Exchange")
    )
    assert n_shuffles == 1, body
    assert "Join" not in body


def test_incremental_rollup_reaggregates_without_rescan(spark):
    """q_incremental_rollup: daily-from-hourly must scan events exactly once
    (rollup-of-rollup, not two passes over the fact table)."""
    plan = formatted_plan(REGISTRY["q_incremental_rollup"].fn(spark, SF))
    # one scan node == one "Location:" detail block in the formatted plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_layout_operators_partition_pruning_and_zone_maps(spark, tmp_path):
    """save_partitioned → PartitionFilters prune directories at plan time;
    save_sorted → range filter still pushed (zone maps do file skipping at
    execution)."""
    from watermill_spark.operators import save_partitioned, save_sorted

    orders = load(spark, SF, "orders")
    p_dir = str(tmp_path / "by_priority")
    save_partitioned(orders, p_dir, ["o_orderpriority"])
    pruned = spark.read.parquet(p_dir).filter(F.col("o_orderpriority") == "1-URGENT")
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan and "1-URGENT" in plan
    assert pruned.count() == orders.filter(F.col("o_orderpriority") == "1-URGENT").count()

    s_dir = str(tmp_path / "sorted")
    save_sorted(orders, s_dir, ["o_orderdate"], n_files=4)
    rng = spark.read.parquet(s_dir).filter(F.col("o_totalprice") > 0).filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    plan = formatted_plan(rng)
    assert "PushedFilters" in plan and "o_orderdate" in plan.split("PushedFilters")[1].splitlines()[0]
    assert rng.count() > 0


def test_layout_save_bucketed_roundtrip_no_shuffle_join(spark, tmp_path):
    """save_bucketed/read_bucketed: the packaged writers reproduce the
    co-located zero-Exchange sort-merge join."""
    from watermill_spark.operators import read_bucketed, save_bucketed

    tag = _uuid.uuid4().hex[:8]
    t1, t2 = f"lb_orders_{tag}", f"lb_cust_{tag}"
    try:
        save_bucketed(load(spark, SF, "orders"), t1, ["o_custkey"], n_buckets=8)
        save_bucketed(load(spark, SF, "customer"), t2, ["c_custkey"], n_buckets=8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_bucketed(spark, t1).join(
            read_bucketed(spark, t2), F.col("o_custkey") == F.col("c_custkey")
        )
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan and "Exchange" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def _body(plan: str) -> str:
    return plan.split("== Physical Plan ==")[1].split("== ")[0]


def _n_exchanges(plan: str) -> int:
    return sum(
        1
        for line in _body(plan).splitlines()
        if "+- Exchange" in line or line.strip().startswith("Exchange")
    )


def test_ewma_lags_share_one_window_sort(spark):
    """q_events_ewma8: all 8 lag terms must evaluate in a single sorted
    window frame — one exchange, one sort, no joins."""
    plan = formatted_plan(REGISTRY["q_events_ewma8"].fn(spark, SF))
    assert _n_exchanges(plan) == 1, _body(plan)
    assert _body(plan).count("Sort ") == 1
    assert "Join" not in _body(plan)


def test_interval_coverage_single_shuffle(spark):
    """q_interval_coverage: both windows and both groupBys cluster on
    user_id, so the whole gaps-and-islands pipeline rides ONE exchange
    (the later aggregations reuse the window's hash partitioning)."""
    plan = formatted_plan(REGISTRY["q_interval_coverage"].fn(spark, SF))
    assert _n_exchanges(plan) == 1, _body(plan)
    assert "Join" not in _body(plan)


def test_attribution_no_joins(spark):
    """q_last_touch_attribution: carry-forward via IGNORE NULLS window, not
    an as-of join — plan must contain no join operator at all."""
    plan = formatted_plan(REGISTRY["q_last_touch_attribution"].fn(spark, SF))
    assert "Join" not in _body(plan)


def test_brand_affinity_pairs_without_selfjoin(spark):
    """q_brand_affinity_lift: pair expansion is order-local (array HOFs on
    collect_set) — no sort-merge self-join; marginals broadcast back."""
    plan = formatted_plan(REGISTRY["q_brand_affinity_lift"].fn(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_quantize_stats_broadcast(spark):
    """q_embedding_quantize_int8: the 64-row per-dim stats join back to the
    exploded stream as a broadcast — never a shuffle join."""
    plan = formatted_plan(REGISTRY["q_embedding_quantize_int8"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_triangles_all_wedge_joins_broadcast(spark):
    """q_trade_triangles: after edge aggregation the graph is tiny — wedge
    enumeration must be all-broadcast (no SMJ, no BNLJ: the join conditions
    are pure equi-joins on the oriented endpoints)."""
    plan = formatted_plan(REGISTRY["q_trade_triangles"].fn(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_pruned_scan_no_joins(spark):
    """q_ks_two_sample: totals come from an OVER () window on the per-value
    aggregate, not a 1-row cross join — no join operator anywhere; the
    orders scan reads only the value + priority columns."""
    plan = formatted_plan(REGISTRY["q_ks_two_sample"].fn(spark, SF))
    body = _body(plan)
    assert "Join" not in body
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") :].splitlines()[0]
    assert "o_totalprice" in read_schema and "o_orderpriority" in read_schema
    assert "o_orderkey" not in read_schema and "o_orderdate" not in read_schema


def test_hhi_two_shuffles_no_joins(spark):
    """q_hhi_concentration: (type,user) pre-agg then per-type re-agg —
    exactly two shuffle exchanges, no joins, no windows."""
    plan = formatted_plan(REGISTRY["q_hhi_concentration"].fn(spark, SF))
    body = _body(plan)
    n_shuffles = sum(
        1
        for line in body.splitlines()
        if "+- Exchange" in line or line.strip().startswith("Exchange")
    )
    assert n_shuffles == 2, body
    assert "Join" not in body and "Window" not in body


def _tree(plan: str) -> str:
    """Just the indented operator tree (first block of the formatted plan),
    without the per-node detail sections that repeat every operator name."""
    return _body(plan).strip().split("\n\n")[0]


def test_trimmed_mean_single_exchange(spark):
    """q_trimmed_mean: the rank window, the count window, and the final
    groupBy all cluster on o_orderpriority — the whole trim pipeline rides
    ONE hash exchange, with no joins (the trim boundary is rank-math, not
    a percentile-table join)."""
    plan = formatted_plan(REGISTRY["q_trimmed_mean"].fn(spark, SF))
    assert _n_exchanges(plan) == 1, _body(plan)
    assert "Join" not in _tree(plan)


def test_ols_trend_no_joins(spark):
    """q_ols_daily_trend: the day index comes from MIN() OVER () on the
    ~2.4k-row daily aggregate, not a 1-row-min cross join — no join
    operator anywhere; the only window runs AFTER the date rollup."""
    plan = formatted_plan(REGISTRY["q_ols_daily_trend"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert tree.index("Window") < tree.index("Scan parquet")  # post-rollup


def test_mad_outliers_all_broadcast(spark):
    """q_mad_outliers: the per-type median tables join back to events as
    broadcasts, never SortMergeJoins (the fact side never shuffles on a
    join key). Since the r6 lineage cut the deviation stream materializes
    once (events⨝medians runs a single time inside the checkpoint), so
    the visible plan is ONE broadcast join of the MAD table over the
    checkpointed stream — previously the same two joins were re-executed
    per consumer (three visible BHJs)."""
    plan = formatted_plan(REGISTRY["q_mad_outliers"].fn(spark, SF))
    tree = _tree(plan)
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "Scan ExistingRDD" in tree, tree  # the checkpointed dev stream
    assert "SortMergeJoin" not in tree


def test_theil_sen_pairs_post_aggregate(spark):
    """q_theil_sen_trend: the pairwise-slope BNLJ must sit ABOVE the daily
    rollup on both sides (pairs of the SF-invariant ~2.4k-day aggregate,
    never of raw lineitem) and broadcast its build side. Since r6 the day
    grid is checkpointed, so both BNLJ inputs read the materialized grid
    (no parquet scan below the join at all)."""
    plan = formatted_plan(REGISTRY["q_theil_sen_trend"].fn(spark, SF))
    tree = _tree(plan)
    assert tree.count("BroadcastNestedLoopJoin") == 1, tree
    assert "Scan parquet" not in plan, plan  # pairs of the checkpointed grid
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in tree


def test_cohort_ltv_no_cartesian(spark):
    """q_cohort_ltv: cohort sizes broadcast onto the months×ages grid and
    the first-order join is keyed on o_custkey — no nested-loop or
    cartesian fallback anywhere."""
    plan = formatted_plan(REGISTRY["q_cohort_ltv"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def test_twap_single_exchange(spark):
    """q_twap_user_value: the lead() window and the final groupBy both
    cluster on user_id — the whole TWAP pipeline rides ONE exchange with
    no joins."""
    plan = formatted_plan(REGISTRY["q_twap_user_value"].fn(spark, SF))
    assert _n_exchanges(plan) == 1, _body(plan)
    assert "Join" not in _tree(plan)


def test_md5_sample_take_ordered(spark):
    """q_sample_md5_topk: ORDER BY hash LIMIT k must compile to
    TakeOrderedAndProject (per-partition local top-k, no global sort,
    no shuffle exchange for the ordering)."""
    plan = formatted_plan(REGISTRY["q_sample_md5_topk"].fn(spark, SF))
    tree = _tree(plan)
    assert "TakeOrderedAndProject" in tree, tree
    assert "Exchange" not in tree, tree


def test_skyline_staircase_on_reduced_table(spark):
    """q_skyline_customers: the single-partition staircase window must sit
    ABOVE both rollups (it scans the per-balance table, never raw
    customers), and the customer↔order-count join stays a hash join."""
    plan = formatted_plan(REGISTRY["q_skyline_customers"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    # Window appears before (above) every HashAggregate in the tree text
    assert tree.index("Window") < tree.index("HashAggregate")


def test_kaplan_meier_windows_post_rollup(spark):
    """q_kaplan_meier_retention (r7): the dataset-max date is a 1-row
    aggregate broadcast onto the CHECKPOINTED customer-lifetime grid (no
    single-task window over the data-scaled grid); the reverse-cumsum
    risk set and survival product still run on the calendar-bounded
    ≤|distinct lifetime| grid — those windows sit above the lifetime
    aggregate, and the only join is the 1-row broadcast attach."""
    plan = formatted_plan(REGISTRY["q_kaplan_meier_retention"].fn(spark, SF))
    tree = _tree(plan)
    assert "SortMergeJoin" not in tree
    assert "ExistingRDD" in tree  # checkpointed lifetime grid
    assert tree.index("Window") < tree.index("HashAggregate")


def test_new_vs_returning_two_shuffles(spark):
    """q_new_vs_returning: lag() shuffles on o_custkey, the month×segment
    rollup re-shuffles once onto the tiny grid — exactly two exchanges,
    no joins."""
    plan = formatted_plan(REGISTRY["q_new_vs_returning"].fn(spark, SF))
    assert _n_exchanges(plan) == 2, _body(plan)
    assert "Join" not in _tree(plan)


def test_welch_ttest_moment_reduction(spark):
    """q_welch_ttest: the fact table collapses to per-type moment rows via
    partial aggregation before any exchange — no joins, and the event_type
    IN-filter is pushed into the parquet scan."""
    plan = formatted_plan(REGISTRY["q_welch_ttest"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    scan = plan[plan.index("Scan parquet") :]
    pushed = scan[scan.index("PushedFilters") : scan.index("ReadSchema")]
    assert "event_type" in pushed, pushed


def test_anova_no_joins_two_exchanges(spark):
    """q_anova_value_by_type: per-type moments then the 5-row grid
    reduction — exactly the type-grouping exchange plus the final
    single-row gather, no joins."""
    plan = formatted_plan(REGISTRY["q_anova_value_by_type"].fn(spark, SF))
    assert _n_exchanges(plan) <= 2, _body(plan)
    assert "Join" not in _tree(plan)


def test_drawdown_windows_post_rollup(spark):
    """q_max_drawdown: both running windows (cumsum, running max) sit above
    the |days| rollup — never on raw orders — and the top-10 compiles to
    TakeOrderedAndProject, not a global sort."""
    plan = formatted_plan(REGISTRY["q_max_drawdown"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert tree.index("Window") < tree.index("HashAggregate")
    assert "TakeOrderedAndProject" in tree, tree


def test_bollinger_window_post_rollup(spark):
    """q_bollinger_daily: the 7-day rows-frame moment window runs on the
    daily aggregate (calendar-bounded), above the fact rollup; no joins."""
    plan = formatted_plan(REGISTRY["q_bollinger_daily"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert tree.index("Window") < tree.index("HashAggregate")


def test_ccf_lead_unpivot_no_selfjoin(spark):
    """q_ccf_click_purchase: the lag alignment is ONE lead() window pass
    over the |hours| grid plus a stack() unpivot — no per-lag self-join of
    the hourly series anywhere."""
    plan = formatted_plan(REGISTRY["q_ccf_click_purchase"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    # the hourly rollup sits BELOW the lead() window
    assert "HashAggregate" in tree[tree.index("Window") :]
    assert "Generate" in tree or "Expand" in tree, tree  # the stack() unpivot


def test_decile_lift_ntile_post_rollup(spark):
    """q_decile_lift (r7): decile assignment is a pure expression of the
    distributed exact rank (distrib.two_level_order + ntile_of) — the
    |customers| rollup never sorts in one task. The checkpointed range
    grid (ExistingRDD) feeds a broadcast offset attach; the only
    remaining single-partition window is the bounded 10-row decile
    cumsum."""
    plan = formatted_plan(REGISTRY["q_decile_lift"].fn(spark, SF))
    tree = _tree(plan)
    assert "SortMergeJoin" not in tree
    assert "ExistingRDD" in tree  # checkpointed range-partitioned grid
    assert "BroadcastHashJoin" in tree  # pid-offset attach


def test_abc_running_share_post_rollup(spark):
    """q_abc_parts (r6 pass 13f, r7 shared helper): the |parts| Pareto
    cumsum is the two-level exact prefix sum (distrib.two_level_order) —
    the checkpointed range-partitioned part grid (ExistingRDD) feeds a
    pid-PARTITIONED running-sum window ordered by the encoded _mid, and
    the only join is the broadcast attach of the ≤nparts offset grid
    (itself checkpointed, so no single-partition exchange appears in the
    plan at all). No single-task window over the data-scaled part grid,
    no SMJ."""
    import re

    plan = formatted_plan(REGISTRY["q_abc_parts"].fn(spark, SF))
    tree = _tree(plan)
    assert "SortMergeJoin" not in tree
    assert tree.count("BroadcastHashJoin") == 1  # pid-offset attach only
    assert "ExistingRDD" in tree  # checkpointed range-partitioned grid
    assert "SinglePartition" not in plan, plan
    # the part-grid running sum is partitioned by pid (parallel), ordered
    # by the order-encoding _mid inside each partition
    assert re.search(r"\[_w\d+#\d+L?\], \[_mid#\d+L ASC", plan), plan


def test_covariance_matrix_single_pass(spark):
    """q_covariance_matrix: all nine moments come from ONE aggregation over
    one scan, and since r6 the 1-row moment table is checkpointed — the
    three unioned pair selects read the materialized row instead of
    re-deriving the lineitem aggregate (3 fact scans → 1 true scan). The
    displayed plan therefore has no parquet scan at all, no joins, no
    window."""
    plan = formatted_plan(REGISTRY["q_covariance_matrix"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert "Window" not in tree
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan  # the checkpointed 1-row moment table


def test_winsorized_mean_single_exchange(spark):
    """q_winsorized_mean: rank window and final groupBy share the
    l_returnflag clustering — the whole winsorize pipeline rides ONE hash
    exchange, no joins (boundaries are rank math, not a percentile join)."""
    plan = formatted_plan(REGISTRY["q_winsorized_mean"].fn(spark, SF))
    assert _n_exchanges(plan) == 1, _body(plan)
    assert "Join" not in _tree(plan)


def test_zscore_stats_broadcast_back(spark):
    """q_zscore_features: the per-type stats table joins back to the fact
    scan as a broadcast — the fact side never shuffles on the join key."""
    plan = formatted_plan(REGISTRY["q_zscore_features"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_cms_sketch_broadcast_probe(spark):
    """q_cms_heavy_hitters: the 4x256-counter sketch broadcasts to the
    distinct-key probe (never the reverse), and the seed fan-out is a
    Generate/Expand, not a join."""
    plan = formatted_plan(REGISTRY["q_cms_heavy_hitters"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "Generate" in tree or "Expand" in tree


def test_rolling_median_no_range_join(spark):
    """q_rolling_median_7d: the window membership comes from an explode
    (Generate) + anchor shuffle, and the only join is the grid-sized anchor
    join-back — no BNLJ/cartesian from a range self-join."""
    plan = formatted_plan(REGISTRY["q_rolling_median_7d"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "Generate" in tree, tree


def test_grubbs_stats_broadcast_back(spark):
    """q_grubbs_outlier: per-type moments broadcast back onto the fact scan
    (the two-pass robust-stat shape); no sort-merge join."""
    plan = formatted_plan(REGISTRY["q_grubbs_outlier"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_top_movers_take_ordered(spark):
    """q_top_movers_dod: part dim broadcasts; the top-15 compiles to
    TakeOrderedAndProject (local per-partition top-k, no global sort)."""
    plan = formatted_plan(REGISTRY["q_top_movers_dod"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "TakeOrderedAndProject" in tree, tree


def test_histogram_2d_single_exchange(spark):
    """q_histogram_2d: pure map-side binning + one 25-cell aggregation
    exchange; scan reads only the three referenced columns."""
    plan = formatted_plan(REGISTRY["q_histogram_2d"].fn(spark, SF))
    assert _n_exchanges(plan) <= 1, _body(plan)
    assert "Join" not in _tree(plan)
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_shipdate" not in read_schema


def test_assoc_rules_counts_broadcast(spark):
    """q_assoc_rules_types: item/antecedent/consequent count tables join
    the rule grid as broadcasts; the only sort-merge join is the key-local
    basket self-join on l_orderkey."""
    plan = formatted_plan(REGISTRY["q_assoc_rules_types"].fn(spark, SF))
    tree = _tree(plan)
    assert tree.count("SortMergeJoin") == 1, tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_mix_shift_grid_windows(spark):
    """q_mix_shift_decomposition: both window passes run on the
    year×priority rollup (above the aggregate), no joins anywhere."""
    plan = formatted_plan(REGISTRY["q_mix_shift_decomposition"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert "HashAggregate" in tree[tree.index("Window") :]


def test_rolling_active_users_anchor_shape(spark):
    """q_rolling_active_users: rolling distinct rides the explode-to-anchor
    shape — a Generate above the deduped (day,user) grid, no BNLJ/cartesian
    from a range join."""
    plan = formatted_plan(REGISTRY["q_rolling_active_users"].fn(spark, SF))
    tree = _tree(plan)
    assert "Generate" in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def test_hill_top_k_take_ordered(spark):
    """q_hill_tail_index: the top-(k+1) spender set comes from
    TakeOrderedAndProject over the |customers| rollup (local top-k, no
    global sort), and the Hill window runs on those 101 rows."""
    plan = formatted_plan(REGISTRY["q_hill_tail_index"].fn(spark, SF))
    tree = _tree(plan)
    assert "TakeOrderedAndProject" in tree, tree
    assert "SortMergeJoin" not in tree


def test_quintile_migration_year_partitioned_ntile(spark):
    """q_quintile_migration: both ntile sorts partition by year (no global
    single-partition window over raw customers), and the transition join is
    a hash join on custkey. The only nested loops are the 1-row min/max-year
    bound broadcasts (r4 rewrite replacing the driver-side collect — plan
    audit pins BNLJ ≤ 2 for this query)."""
    plan = formatted_plan(REGISTRY["q_quintile_migration"].fn(spark, SF))
    tree = _tree(plan)
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastNestedLoopJoin") <= 2
    assert "HashAggregate" in tree[tree.index("Window") :]


def test_acf_lead_unpivot_shape(spark):
    """q_acf_daily_revenue: all seven lags come from ONE lead-window pass
    over the |days| grid + stack unpivot — no per-lag self-joins."""
    plan = formatted_plan(REGISTRY["q_acf_daily_revenue"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert "Generate" in tree or "Expand" in tree
    assert "HashAggregate" in tree[tree.index("Window") :]


def test_silhouette_centroids_broadcast(spark):
    """q_silhouette_by_label: vectors never shuffle for the distance stage —
    the ≤|labels| centroid table is the broadcast side of the cross."""
    plan = formatted_plan(REGISTRY["q_silhouette_by_label"].fn(spark, SF))
    tree = _tree(plan)
    assert "SortMergeJoin" not in tree
    assert "BroadcastExchange" in plan


def test_containment_join_on_shingle_key(spark):
    """q_shingle_containment: the candidate join is shingle-keyed on the
    deduped (doc, shingle) set — hash/sort-merge equi-join, never a
    nested-loop over documents."""
    plan = formatted_plan(REGISTRY["q_shingle_containment"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def test_token_pmi_vocab_broadcast(spark):
    """q_token_pmi: the top-50 vocabulary cut broadcasts onto the token
    stream (semi-filter), and the pair join is doc-keyed."""
    plan = formatted_plan(REGISTRY["q_token_pmi"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_share_of_parent_single_fact_shuffle(spark):
    """q_share_of_parent: all three dims broadcast; the windows run on the
    |nations| grid above the single fact aggregation."""
    plan = formatted_plan(REGISTRY["q_share_of_parent"].fn(spark, SF))
    tree = _tree(plan)
    assert "SortMergeJoin" not in tree
    assert tree.count("BroadcastHashJoin") >= 3
    assert "HashAggregate" in tree[tree.index("Window") :]


def test_shipping_delay_one_exchange_after_join(spark):
    """q_shipping_delay_percentiles: rank window and final aggregation
    share the priority clustering — one exchange after the orderkey
    fact-fact join; rank math, no percentile-table join."""
    plan = formatted_plan(REGISTRY["q_shipping_delay_percentiles"].fn(spark, SF))
    tree = _tree(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    # the window must sit above the join (ranks per priority, post-join)
    assert "Join" in tree[tree.index("Window") :]


def test_catalog_growth_no_distinct_rescan(spark):
    """q_catalog_growth: cumulative distinct = cumsum of first-appearance
    months — one partkey rollup, one grid window, no join, no
    per-month distinct rescan (single scan of lineitem)."""
    plan = formatted_plan(REGISTRY["q_catalog_growth"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "HashAggregate" in tree[tree.index("Window") :]


def test_charclass_single_pass(spark):
    """q_charclass_audit: regexp class counting is map-side; one |langs|
    aggregation exchange, no joins, text read exactly once."""
    plan = formatted_plan(REGISTRY["q_charclass_audit"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_scd2_single_user_clustering(spark):
    """q_scd2_history: all windows and the segment groupBy cluster on
    user_id — the whole SCD2 build rides ONE exchange, no joins."""
    plan = formatted_plan(REGISTRY["q_scd2_history"].fn(spark, SF))
    assert _n_exchanges(plan) == 1, _body(plan)
    assert "Join" not in _tree(plan)


def test_winback_two_exchanges(spark):
    """q_dormancy_winback: customer-partitioned lag then the quarter
    rollup — exactly two exchanges, no joins."""
    plan = formatted_plan(REGISTRY["q_dormancy_winback"].fn(spark, SF))
    assert _n_exchanges(plan) == 2, _body(plan)
    assert "Join" not in _tree(plan)


def test_vwap_window_post_rollup(spark):
    """q_vwap_daily: the 5-day rolling frame runs on the |days| rollup,
    above the fact aggregation; no joins."""
    plan = formatted_plan(REGISTRY["q_vwap_daily"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert "HashAggregate" in tree[tree.index("Window") :]


def test_weekly_overlap_user_keyed_join(spark):
    """q_weekly_user_overlap: the consecutive-week join is keyed on
    user_id over the deduped (week,user) grid; week sizes broadcast."""
    plan = formatted_plan(REGISTRY["q_weekly_user_overlap"].fn(spark, SF))
    tree = _tree(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BroadcastHashJoin" in tree


def test_missing_days_spine_from_scalars(spark):
    """q_missing_calendar_days: the day spine is sequence()-generated from
    the two-scalar bounds row (Generate above a 1-row aggregate), and the
    anti-join never degenerates to a nested loop."""
    plan = formatted_plan(REGISTRY["q_missing_calendar_days"].fn(spark, SF))
    tree = _tree(plan)
    assert "Generate" in tree, tree
    assert "CartesianProduct" not in tree


def test_peak_detection_one_window_sort(spark):
    """q_peak_detection: lag/lead and the trailing-mean frame share one
    |days|-grid window sort; the top-25 is TakeOrderedAndProject."""
    plan = formatted_plan(REGISTRY["q_peak_detection"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert "TakeOrderedAndProject" in tree, tree
    assert "HashAggregate" in tree[tree.index("Window") :]


def test_basket_diversity_single_rollup(spark):
    """q_basket_diversity: part dim broadcasts; line count and distinct
    brand count share the orderkey clustering — no sort-merge join of the
    fact side against a dimension."""
    plan = formatted_plan(REGISTRY["q_basket_diversity"].fn(spark, SF))
    tree = _tree(plan)
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_concentration_trend_quarter_partitioned(spark):
    """q_concentration_trend: ntile partitions by quarter over per-customer
    aggregates (never a global sort of raw orders); the share rollup sits
    above the window."""
    plan = formatted_plan(REGISTRY["q_concentration_trend"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree
    assert "HashAggregate" in tree[tree.index("Window") :]


def test_burstiness_single_user_exchange(spark):
    """q_burstiness_coefficient: the gap lag and the per-user moment
    rollup share the user clustering — one exchange before the 1-row
    summary, no joins."""
    plan = formatted_plan(REGISTRY["q_burstiness_coefficient"].fn(spark, SF))
    tree = _tree(plan)
    assert "Join" not in tree


def test_embedding_drift_grid_after_one_explode(spark):
    """q_embedding_drift: after the single posexplode pass everything runs
    on the |labels|×dims×2 grid — no nested-loop joins. Since r6 that grid
    is checkpointed, so the displayed plan reads the materialized grid
    (no Generate and no parquet scan at all) and both batch-split
    branches filter it."""
    plan = formatted_plan(REGISTRY["q_embedding_drift"].fn(spark, SF))
    tree = _tree(plan)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan  # the checkpointed label×batch×dim grid
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def test_holt_python_boundary_after_aggregation(spark):
    """q_holt_linear: the sequential pandas recursion must sit ABOVE the
    daily aggregation (Python sees #days rows, never raw lineitem), and the
    scan must prune to the two referenced columns."""
    plan = formatted_plan(REGISTRY["q_holt_linear"].fn(spark, SF))
    tree = plan.split("\n\n")[0]  # root-first operator tree header
    assert "FlatMapGroupsInPandas" in tree
    # root-first listing: the pandas node sits ABOVE (before) the hash
    # aggregate that builds the daily grid
    assert tree.index("FlatMapGroupsInPandas") < tree.index("HashAggregate")
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") :].splitlines()[0]
    assert "l_shipdate" in read_schema and "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_quantity" not in read_schema


def test_pca_no_cartesian_and_bounded_smj(spark):
    """q_pca_power_iteration: the covariance build self-joins the exploded
    corpus on vec_id only (never a cartesian); iteration joins run on the
    broadcast d-row vector grid."""
    plan = formatted_plan(REGISTRY["q_pca_power_iteration"].fn(spark, SF))
    tree = _tree(plan)
    assert "CartesianProduct" not in tree
    assert tree.count("SortMergeJoin") <= 1, tree


def test_stl_windows_on_daily_grid(spark):
    """q_stl_lite: the ordered 7-day trend window runs on the post-aggregate
    daily grid (Window above HashAggregate), with the scan pruned to
    shipdate+price."""
    plan = formatted_plan(REGISTRY["q_stl_lite"].fn(spark, SF))
    tree = plan.split("\n\n")[0]  # root-first operator tree header
    # the deepest (last-listed) HashAggregate is the daily-grid build — the
    # ordered windows must sit above it, not on raw rows
    assert tree.index("Window") < tree.rindex("HashAggregate")
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") :].splitlines()[0]
    assert "l_shipdate" in read_schema and "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema


def test_r6_single_pass_rewrites_stay_single_pass(spark):
    """r6 multi-scan collapses must not regress: each fact table is scanned
    once (true scan-node count = `Location:` detail lines).

    - q_candidate_keys: all five orders column profiles from ONE scan (the
      multi-count_distinct Expand plan) plus one lineitem scan — was 6.
    - q_pii_scan: all four PII regexes stamped in ONE documents pass — was 5
      scans, each re-running its regex over the full corpus.
    - q_exactly_once_dedup_audit: the delivery stream (explode of attempts)
      materializes once; every counting pass reads the checkpoint — was 5.
    """

    def scan_nodes(name: str) -> int:
        plan = formatted_plan(REGISTRY[name].fn(spark, SF))
        return plan.count("Location: InMemoryFileIndex")

    assert scan_nodes("q_candidate_keys") <= 2
    assert scan_nodes("q_pii_scan") <= 1
    assert scan_nodes("q_exactly_once_dedup_audit") == 0


def test_q21_window_rewrite_no_self_joins(spark):
    """q21_waiting_supplier (r6 pass 10): the semi/anti lineitem self-joins
    are replaced by two collect_set windows over the order partition — ONE
    lineitem scan, no fact-fact SortMergeJoin, and both distinct-supplier
    counts ride the same l_orderkey exchange."""
    plan = formatted_plan(REGISTRY["q21_waiting_supplier"].fn(spark, SF))
    tree = _tree(plan)
    assert "SortMergeJoin" not in tree, tree
    assert plan.count("Location: InMemoryFileIndex") <= 3  # li + orders + supplier
    assert tree.count("Window") == 1  # both collect_sets in one window op


def test_q18_grid_reuse_no_second_lineitem_scan(spark):
    """q18_large_orders (r6 pass 11): total_qty comes from the >150 filter's
    own per-order rollup — lineitem is scanned once, not re-joined raw."""
    plan = formatted_plan(REGISTRY["q18_large_orders"].fn(spark, SF))
    # one scan each: lineitem, orders, customer
    assert plan.count("Location: InMemoryFileIndex") <= 3, plan


def test_cold_start_no_pair_explosion(spark):
    """q_cold_start_coverage (r6 pass 10): the k(k-1) co-purchase self-join
    is gone — co-purchase is a per-order distinct-count window over the
    deduped (order, part) grid; the only joins left are the 1-row
    cross-attaches."""
    plan = formatted_plan(REGISTRY["q_cold_start_coverage"].fn(spark, SF))
    tree = _tree(plan)
    assert "SortMergeJoin" not in tree
    assert "ShuffledHashJoin" not in tree
    assert tree.count("BroadcastNestedLoopJoin") == 1  # stats cross-attach
    assert "Window" in tree
