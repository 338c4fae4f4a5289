"""Analytics batch 55: cume_dist price-tail extraction, Mann–Kendall trend
test on daily revenue, CVaR / expected shortfall on daily revenue returns,
and a KMV (k-minimum-values / bottom-k) distinct-count sketch.

KMV is the third cardinality sketch in the engine (after q_hll_manual and
q_events_approx_users): it keeps the k smallest hash values and estimates
D ≈ (k−1)/h(k). md5 hex strings order lexicographically exactly like their
numeric values (fixed-length lowercase hex), so the bottom-k *selection*
runs on strings and only the single k-th value is converted to a number —
the hex→int conversion is the only per-engine expression and it is written
symmetrically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, hexval8, sql_hexval8
from .registry import load, register
from .relations import DAILY_ORDER_REVENUE_SQL, daily_order_revenue


@register(
    "q_window_cume_dist",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC) AS cd
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey,
           round(CAST(o_totalprice AS DECIMAL(18,6)), 2) AS totalprice,
           round(cd, 6) AS price_cume_dist
    FROM r WHERE cd <= 0.01
    """,
)
def q_window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1%-by-price order extraction per priority class via cume_dist —
    the distribution-aware cousin of rank()<=k: the cut adapts to partition
    size and duplicate prices share a cume_dist value (ties are handled
    identically by both engines, unlike a row_number cut which would need a
    tiebreak).

    Determinism: cume_dist is a pure count ratio (no floating accumulation);
    the 0.01 threshold compares exact ratios.

    Scale: one shuffle on o_orderpriority (5 partitions — coarse, but each
    holds only its own rows and the window is a single streaming pass after
    sort; for a skewed real deployment the cut would be two-pass: per-bucket
    counts, then filter). §2.B window functions [NS].
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.cume_dist().over(w).alias("cd"),
        )
        .filter(F.col("cd") <= 0.01)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round(dec("o_totalprice"), 2).alias("totalprice"),
            F.round("cd", 6).alias("price_cume_dist"),
        )
    )


@register(
    "q_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders WHERE year(o_orderdate) = 1995
      GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    ties AS (
      SELECT COALESCE(SUM(CAST(t * (t - 1) * (2 * t + 5) AS DOUBLE)), 0.0)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY rev)
      WHERE t > 1
    )
    SELECT n_days, s_stat,
           round((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
                  - tie_term) / 18.0, 6) AS var_s,
           round((CAST(s_stat AS DOUBLE)
                  - CASE WHEN s_stat > 0 THEN 1
                         WHEN s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
                         - tie_term) / 18.0), 6) AS z_mk,
           CASE WHEN abs((CAST(s_stat AS DOUBLE)
                  - CASE WHEN s_stat > 0 THEN 1
                         WHEN s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
                         - tie_term) / 18.0)) > 1.959964
                THEN 'trend' ELSE 'no_trend' END AS verdict
    FROM pairs, n, ties
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall non-parametric trend test on 1995 daily revenue: S =
    Σ_{i<j} sign(rev_j − rev_i), tie-corrected Var(S), continuity-corrected
    z — the rank-based companion to q_theil_sen_trend (which estimates the
    slope this test decides the significance of) and q_ols_daily_trend.

    Determinism: daily revenues are exact DECIMAL sums, so every pairwise
    sign comparison is exact; Var(S) and z are fixed-shape double algebra on
    integers.

    Scale: the pairwise stage is a self-join of the *daily aggregate* (365
    rows here; one year of days at any corpus size), never of raw orders —
    the O(n²) lives on post-aggregation data whose size is calendar-bounded,
    with the heavy lifting in the map-side-combined daily rollup. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev"))
    )
    # checkpointed once (r6): both S-statistic self-join sides, the day
    # count, and the tie pass each re-derived the fact rollup (4 orders
    # scans in the plan); the ≤365-row 1995 day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, F.col("b.d") > F.col("a.d"))
        .agg(
            F.sum(
                F.when(F.col("b.rev") > F.col("a.rev"), 1)
                .when(F.col("b.rev") < F.col("a.rev"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = daily.agg(bcount("n_days"))
    ties = (
        daily.groupBy("rev")
        .agg(bcount("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).cast(
                        "double"
                    )
                ),
                F.lit(0.0),
            ).alias("tie_term")
        )
    )
    s = pairs.crossJoin(n).crossJoin(ties)
    nd = F.col("n_days").cast("double")
    var_s = (nd * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5) - F.col("tie_term")) / 18.0
    sign_s = (
        F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1).otherwise(0)
    )
    z = (F.col("s_stat").cast("double") - sign_s) / F.sqrt(var_s)
    return s.select(
        "n_days",
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z_mk"),
        F.when(F.abs(z) > 1.959964, "trend").otherwise("no_trend").alias("verdict"),
    )


@register(
    "q_cvar_expected_shortfall",
    oracle=f"""
    WITH daily AS ({DAILY_ORDER_REVENUE_SQL}),
    ret AS (
      SELECT d, rev / lag(rev) OVER (ORDER BY d) - 1.0 AS r
      FROM daily
    ),
    ranked AS (
      SELECT d, r, ROW_NUMBER() OVER (ORDER BY r, d) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM ret WHERE r IS NOT NULL
    ),
    tail AS (
      SELECT n, CAST(CEIL(0.05 * n) AS BIGINT) AS k, r, rn
      FROM ranked WHERE rn <= CAST(CEIL(0.05 * n) AS BIGINT)
    )
    SELECT MAX(n) AS n_returns, MAX(k) AS k_tail,
           round(MAX(CASE WHEN rn = k THEN r END), 6) AS var_95,
           round(CAST(SUM(CAST(r AS DECIMAL(28,12))) AS DOUBLE)
                 / CAST(MAX(k) AS DOUBLE), 6) AS cvar_95
    FROM tail
    """,
)
def q_cvar_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CVaR / expected shortfall at 95%: the k = ⌈0.05·n⌉ worst day-over-day
    revenue returns, reporting the VaR cut (k-th worst return) and their
    mean — the coherent tail-risk companion to q_var_historical (which
    reports the quantile alone; CVaR also averages what lies beyond it).

    Determinism: returns are double ratios of exact decimal sums (identical
    cross-engine); tail selection is row_number with date tiebreak; the tail
    mean goes through DECIMAL(28,12) so addition order cannot matter.

    Scale: daily rollup is map-side combined; ranking n≈2400 calendar-bounded
    rows is a single-partition window by construction (size fixed by the
    calendar, not the corpus — same stance as q_mann_kendall). §2.B [NS].
    """
    daily = daily_order_revenue(spark, sf_dir)
    ret = daily.select(
        "d", (F.col("rev") / F.lag("rev").over(Window.orderBy("d")) - 1.0).alias("r")
    ).filter(F.col("r").isNotNull())
    wall = Window.orderBy(F.col("r"), F.col("d"))
    ranked = ret.select(
        "d",
        "r",
        F.row_number().over(wall).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    k = F.ceil(0.05 * F.col("n")).cast("bigint")
    tail = ranked.withColumn("k", k).filter(F.col("rn") <= F.col("k"))
    return tail.agg(
        F.max("n").alias("n_returns"),
        F.max("k").alias("k_tail"),
        F.round(F.max(F.when(F.col("rn") == F.col("k"), F.col("r"))), 6).alias(
            "var_95"
        ),
        F.round(
            F.sum(dec("r", "decimal(28,12)")).cast("double")
            / F.max("k").cast("double"),
            6,
        ).alias("cvar_95"),
    )


_KMV_K = 64


@register(
    "q_kmv_distinct_estimate",
    oracle=f"""
    WITH hashed AS (
      SELECT md5('kmv:' || CAST(user_id AS VARCHAR)) AS h
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    bottomk AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hashed
    ),
    kth AS (
      SELECT {sql_hexval8("h")} AS kth_val FROM bottomk WHERE rn = {_KMV_K}
    ),
    exact AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users FROM events
    )
    SELECT exact_users, CAST({_KMV_K} AS BIGINT) AS k,
           round(CAST(kth_val AS DOUBLE) / 4294967296.0, 8) AS kth_frac,
           round(({_KMV_K} - 1) / (CAST(kth_val AS DOUBLE) / 4294967296.0), 1)
             AS kmv_estimate,
           round((({_KMV_K} - 1) / (CAST(kth_val AS DOUBLE) / 4294967296.0)
                  - CAST(exact_users AS DOUBLE))
                 / CAST(exact_users AS DOUBLE) * 100, 2) AS rel_error_pct
    FROM kth, exact
    """,
)
def q_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-user sketch, k=64: hash
    every user, keep the k smallest hashes, estimate D ≈ (k−1)/h(k) where
    h(k) is the k-th smallest hash as a fraction of the hash space — the
    mergeable cardinality sketch family Spark itself uses under
    approx_count_distinct, rebuilt from first principles and graded against
    the exact count.

    Determinism: bottom-k selection orders md5 *hex strings* (fixed-length
    lowercase hex sorts exactly like its numeric value), so only the single
    k-th value needs hex→int conversion, written symmetrically both engines.

    Scale: per-partition bottom-k (WindowGroupLimit keeps k rows per task
    before the single-row shuffle in the row_number plan) — state is O(k)
    per partition exactly like a production KMV; the estimate line is one
    row. §2.B sketches [NS].
    """
    ev = load(spark, sf_dir, "events")
    # single scan (r6): the bottom-k rank and the exact count each
    # re-scanned and re-deduped events; ONE deduped user grid
    # (checkpointed once, state linear in the user domain) feeds both —
    # count_distinct over the distinct rows is the same count, and the
    # md5 ranking sees the identical row set
    du = ev.select("user_id").distinct().localCheckpoint(eager=True)
    hashed = du.select(
        F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))).alias("h")
    )
    kth = (
        hashed.select("h", F.row_number().over(Window.orderBy("h")).alias("rn"))
        .filter(F.col("rn") == _KMV_K)
        .select(hexval8(F.col("h")).alias("kth_val"))
    )
    exact = du.agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    s = kth.crossJoin(exact)
    frac = F.col("kth_val").cast("double") / F.lit(4294967296.0)
    est = (F.lit(_KMV_K) - 1) / frac
    return s.select(
        "exact_users",
        F.lit(_KMV_K).cast("bigint").alias("k"),
        F.round(frac, 8).alias("kth_frac"),
        F.round(est, 1).alias("kmv_estimate"),
        F.round(
            (est - F.col("exact_users").cast("double"))
            / F.col("exact_users").cast("double")
            * 100,
            2,
        ).alias("rel_error_pct"),
    )
