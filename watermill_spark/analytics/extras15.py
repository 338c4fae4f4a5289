"""Analytics batch 23: nonparametric statistics & concentration audits —
Kolmogorov-Smirnov two-sample test, Mann-Whitney U (tie-corrected), Spearman
rank correlation, Herfindahl-Hirschman concentration, CUSUM changepoint.

All rank/ECDF arithmetic stays in BIGINT until a single final double division
(per :mod:`watermill_spark.analytics.det` — no accumulated FP, no ``ln``).
Grand totals that feed per-row normalization come from an ``OVER ()`` window
on the already-aggregated tiny table, not a 1-row cross join, so no
BroadcastNestedLoopJoin appears in any plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .distrib import grid_rank_of
from .registry import load, register

def _w_all():
    """Whole-table window (tables here are post-aggregation tiny)."""
    return Window.partitionBy(F.lit(1))


@register(
    "q_ks_two_sample",
    oracle="""
    WITH v AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS a
      FROM orders
    ),
    pv AS (
      SELECT v,
             CAST(SUM(a) AS BIGINT) AS ca_i,
             CAST(SUM(1 - a) AS BIGINT) AS cb_i
      FROM v GROUP BY 1
    ),
    c AS (
      SELECT v,
             SUM(ca_i) OVER (ORDER BY v) AS ca,
             SUM(cb_i) OVER (ORDER BY v) AS cb,
             SUM(ca_i) OVER () AS n_a,
             SUM(cb_i) OVER () AS n_b
      FROM pv
    ),
    d AS (
      SELECT n_a, n_b,
             abs(ca * n_b - cb * n_a) AS dnum,
             v
      FROM c
    ),
    m AS (
      SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
             CAST(MAX(n_b) AS BIGINT) AS n_b,
             MAX({'d': dnum, 'nv': -v}) AS best
      FROM d
    )
    SELECT n_a, n_b,
           round(CAST(struct_extract(best, 'd') AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks_stat,
           CAST(-struct_extract(best, 'nv') AS DOUBLE) AS at_value
    FROM m
    """,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic comparing the order-value
    distribution of urgent (priority 1-2) vs normal orders: D = max over x of
    |F_urgent(x) − F_normal(x)|, plus the value where the gap peaks (ties
    broken toward the smallest value via field-wise struct MAX).

    The ECDF difference is computed as the integer ``|ca·n_b − cb·n_a|`` —
    one double division at the very end, so both engines see identical
    arithmetic. Scale: counts collapse per distinct value map-side; the
    cumulative window is the honest global ECDF (single-partition sort over
    distinct values — at 100 TB swap in a binned/t-digest ECDF, same
    interface). BIGINT products hold to ~3e9 rows per side; beyond that cast
    the cumulative counts to DECIMAL(38,0). §2.B [NS] surface.
    """
    orders = load(spark, sf_dir, "orders")
    v = orders.select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        ).otherwise(F.lit(0)).alias("a"),
    )
    pv = v.groupBy("v").agg(
        F.sum("a").cast("bigint").alias("ca_i"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("cb_i"),
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = pv.select(
        "v",
        F.sum("ca_i").over(wc).alias("ca"),
        F.sum("cb_i").over(wc).alias("cb"),
        F.sum("ca_i").over(_w_all()).alias("n_a"),
        F.sum("cb_i").over(_w_all()).alias("n_b"),
    )
    d = c.select(
        "n_a",
        "n_b",
        F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).alias("dnum"),
        "v",
    )
    m = d.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        F.max(F.struct(F.col("dnum").alias("d"), (-F.col("v")).alias("nv"))).alias(
            "best"
        ),
    )
    return m.select(
        "n_a",
        "n_b",
        F.round(
            F.col("best").getField("d").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            6,
        ).alias("ks_stat"),
        (-F.col("best").getField("nv")).cast("double").alias("at_value"),
    )


@register(
    "q_mannwhitney_u",
    oracle="""
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a
      FROM lineitem
    ),
    pv AS (
      SELECT q,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(a) AS BIGINT) AS cnt_a
      FROM v GROUP BY 1
    ),
    c AS (
      SELECT q, cnt, cnt_a,
             SUM(cnt) OVER (ORDER BY q) - cnt AS cum_before,
             SUM(cnt) OVER () AS n,
             SUM(cnt_a) OVER () AS n_a,
             SUM(cnt * cnt * cnt - cnt) OVER () AS tie3
      FROM pv
    ),
    m AS (
      SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
             CAST(MAX(n) - MAX(n_a) AS BIGINT) AS n_b,
             CAST(MAX(n) AS BIGINT) AS n,
             CAST(MAX(tie3) AS BIGINT) AS tie3,
             CAST(SUM(cnt_a * (2 * cum_before + cnt + 1)) AS BIGINT) AS two_r1
      FROM c
    )
    SELECT n_a, n_b,
           CAST(two_r1 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
           round((CAST(two_r1 - n_a * (n_a + 1) AS DOUBLE) / 2.0
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                 / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                        * (CAST(n + 1 AS DOUBLE)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))),
                 6) AS z_score
    FROM m
    """,
)
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: are quantities of returned lineitems
    (l_returnflag = 'R') stochastically different from the rest? Average
    ranks for ties are handled exactly by doubling: 2·R₁ = Σ cnt_a·(2·
    cum_before + cnt + 1) stays in BIGINT, and the tie-corrected normal
    z-score uses Σ(t³−t) computed on the per-value counts.

    Scale: l_quantity has ~50 distinct values, so everything after the
    map-side combined groupBy runs on a ≤50-row series; the unpartitioned
    windows are over that tiny table. Σt³ holds in BIGINT to ~1e6 rows per
    tie group per million-distinct — at 100 TB cast the cube to
    DECIMAL(38,0). §2.B [NS] surface.
    """
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0)).alias("a"),
    )
    pv = v.groupBy("q").agg(
        bcount("cnt"), F.sum("a").cast("bigint").alias("cnt_a")
    )
    wc = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = pv.select(
        "q",
        "cnt",
        "cnt_a",
        (F.sum("cnt").over(wc) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(_w_all()).alias("n"),
        F.sum("cnt_a").over(_w_all()).alias("n_a"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .over(_w_all())
        .alias("tie3"),
    )
    m = c.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        (F.max("n") - F.max("n_a")).cast("bigint").alias("n_b"),
        F.max("n").cast("bigint").alias("n"),
        F.max("tie3").cast("bigint").alias("tie3"),
        F.sum(
            F.col("cnt_a") * (F.lit(2) * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("two_r1"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nd = F.col("n").cast("double")
    u_a = (F.col("two_r1") - F.col("n_a") * (F.col("n_a") + 1)).cast("double") / 2.0
    var = (
        na * nb / 12.0
        * ((nd + 1.0) - F.col("tie3").cast("double") / (nd * (nd - 1.0)))
    )
    return m.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        F.round((u_a - na * nb / 2.0) / F.sqrt(var), 6).alias("z_score"),
    )


@register(
    "q_spearman_rank_corr",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
      FROM orders GROUP BY 1
    ),
    xy AS (
      SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS x, spend.total_spend AS y
      FROM customer JOIN spend ON c_custkey = o_custkey
    ),
    r AS (
      SELECT 2 * rank() OVER (ORDER BY x)
               + CAST(COUNT(*) OVER (PARTITION BY x) AS BIGINT) - 1 AS rx,
             2 * rank() OVER (ORDER BY y)
               + CAST(COUNT(*) OVER (PARTITION BY y) AS BIGINT) - 1 AS ry
      FROM xy
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
             CAST(SUM(rx * rx) AS BIGINT) AS sxx,
             CAST(SUM(ry * ry) AS BIGINT) AS syy,
             CAST(SUM(rx * ry) AS BIGINT) AS sxy
      FROM r
    )
    SELECT n,
           round(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6
           ) AS spearman_rho
    FROM m
    """,
)
def q_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance and
    their total order spend — Pearson over average-rank vectors. Average
    ranks with ties are half-integers, so both rank vectors are doubled
    (rho is invariant under linear maps) and every moment stays BIGINT;
    the only doubles are the final normalized covariance and sqrt (6dp).

    Scale: the per-customer spend agg is map-side combined and the join is
    co-partitioned on the customer key; ranking sorts the customer-grain
    table (dimension-sized — at 100 TB this is the classic sort-based rank,
    range-partitioned by the sort key). §2.B [NS] surface.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_spend")
    )
    xy = cust.join(spend, cust.c_custkey == spend.o_custkey).select(
        F.col("c_acctbal").cast("decimal(18,2)").alias("x"),
        F.col("total_spend").alias("y"),
    )
    # materialized once: the row stream and both rank grids read it
    # (3 derivations of the customer-grain join otherwise)
    xy = xy.localCheckpoint(eager=True)
    # r7 (guide §2.5): both doubled mid-rank vectors ran as single-task
    # global windows over the data-scaled customer grid; min-ranks and
    # tie counts now come from the two (value, count) grids
    # (distrib.grid_rank_of — distributed cumulative counts) joined back:
    # identical 2·rank + cnt − 1 integers per row.
    r = (
        xy.join(grid_rank_of(xy, "x", "rmx", cnt_col="cx"), "x")
        .join(grid_rank_of(xy, "y", "rmy", cnt_col="cy"), "y")
        .select(
            (F.lit(2) * F.col("rmx") + F.col("cx") - 1).alias("rx"),
            (F.lit(2) * F.col("rmy") + F.col("cy") - 1).alias("ry"),
        )
    )
    m = r.agg(
        bcount("n"),
        F.sum("rx").cast("bigint").alias("sx"),
        F.sum("ry").cast("bigint").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("bigint").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        "n",
        F.round(
            (nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "q_hhi_concentration",
    oracle="""
    WITH cu AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           round(CAST(SUM(cnt * cnt) AS DOUBLE)
                 / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)),
                 6) AS hhi,
           round((CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE))
                 / CAST(SUM(cnt * cnt) AS DOUBLE), 6) AS effective_users
    FROM cu GROUP BY 1
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of traffic per event type: HHI =
    Σ share_u² where share_u is each user's fraction of the type's events,
    plus the inverse-Simpson "effective users" (1/HHI). HHI = Σcnt²/(Σcnt)²
    — two BIGINT sums and one double division, no per-share floats.

    A bot-detection / audience-health audit: HHI → 1 means one user
    dominates the event type. Scale: one map-side-combined groupBy on
    (type, user), then a per-type re-aggregation — uniform keys, two
    shuffles, no windows, no joins. §2.B [NS] training-pipeline surface.
    """
    ev = load(spark, sf_dir, "events")
    cu = ev.groupBy("event_type", "user_id").agg(bcount("cnt"))
    tot = F.sum("cnt").cast("double")
    sumsq = F.sum(F.col("cnt") * F.col("cnt")).cast("double")
    return cu.groupBy("event_type").agg(
        bcount("n_users"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.round(sumsq / (tot * tot), 6).alias("hhi"),
        F.round((tot * tot) / sumsq, 6).alias("effective_users"),
    )


@register(
    "q_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT hr, n,
             CAST(COUNT(*) OVER () AS BIGINT) AS nh,
             SUM(n) OVER () AS tot
      FROM hourly
    ),
    s AS (
      SELECT hr, nh,
             SUM(nh * n - tot) OVER (ORDER BY hr) AS st
      FROM c
    ),
    d AS (
      SELECT hr, nh,
             st - MIN(st) OVER (ORDER BY hr) AS drift
      FROM s
    ),
    m AS (
      SELECT CAST(MAX(nh) AS BIGINT) AS n_hours,
             MAX({'d': drift, 'nts': -epoch_us(hr)}) AS best
      FROM d
    )
    SELECT n_hours,
           CAST(make_timestamp(-struct_extract(best, 'nts')) AS TIMESTAMP)
             AS peak_hour,
           round(CAST(struct_extract(best, 'd') AS DOUBLE)
                 / CAST(n_hours AS DOUBLE), 6) AS cusum_peak
    FROM m
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the hourly event-count series: the
    cumulative sum of mean-deviations, tracked against its running minimum —
    the peak of that drift marks the hour where traffic level shifted most.
    Deviations are integer-scaled (nh·n_t − total) so the running sums are
    exact; the single division by nh happens at the end (events units).

    Ties on the peak resolve to the earliest hour via field-wise struct MAX
    on (drift, −epoch_micros). Scale: identical shape to the autocorr /
    EWMA family — everything after the hourly rollup runs on a tiny
    per-hour series where single-partition windows are free. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(bcount("n"))
    c = hourly.select(
        "hr",
        "n",
        F.count(F.lit(1)).over(_w_all()).cast("bigint").alias("nh"),
        F.sum("n").over(_w_all()).alias("tot"),
    )
    wo = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = c.select(
        "hr",
        "nh",
        F.sum(F.col("nh") * F.col("n") - F.col("tot")).over(wo).alias("st"),
    )
    d = s.select(
        "hr",
        "nh",
        (F.col("st") - F.min("st").over(wo)).alias("drift"),
    )
    m = d.agg(
        F.max("nh").cast("bigint").alias("n_hours"),
        F.max(
            F.struct(
                F.col("drift").alias("d"),
                (-F.unix_micros(F.col("hr"))).alias("nts"),
            )
        ).alias("best"),
    )
    return m.select(
        "n_hours",
        F.timestamp_micros(-F.col("best").getField("nts")).alias("peak_hour"),
        F.round(
            F.col("best").getField("d").cast("double") / F.col("n_hours").cast("double"),
            6,
        ).alias("cusum_peak"),
    )
