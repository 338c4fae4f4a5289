"""Analytics batch 52: a CART decision-stump split search (the primitive
inside tree ensembles), recommender cold-start coverage, and η² (variance
explained) of the weekday effect.

The stump search evaluates every candidate threshold with exact integer
class counts and fixed-shape Gini algebra — the one-feature, depth-one
version of what a distributed GBDT does per node, and the same
histogram-based pattern (aggregate first, search the bounded grid second).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_decision_stump",
    oracle="""
    WITH lab AS (
      SELECT l_discount AS x,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    grid AS (
      SELECT x AS thr,
             CAST(COUNT(*) AS BIGINT) AS n_at,
             CAST(SUM(y) AS BIGINT) AS pos_at
      FROM lab GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_at) AS BIGINT) AS n,
             CAST(SUM(pos_at) AS BIGINT) AS pos
      FROM grid
    ),
    cum AS (
      SELECT thr,
             CAST(SUM(n_at) OVER (ORDER BY thr
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_le,
             CAST(SUM(pos_at) OVER (ORDER BY thr
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pos_le,
             tot.n, tot.pos
      FROM grid, tot
    ),
    split AS (
      SELECT thr, n_le, pos_le, n - n_le AS n_gt, pos - pos_le AS pos_gt, n,
             (CAST(n_le AS DOUBLE) / n)
             * (2.0 * (CAST(pos_le AS DOUBLE) / n_le)
                    * (1 - CAST(pos_le AS DOUBLE) / n_le))
             + (CAST(n - n_le AS DOUBLE) / n)
             * (2.0 * (CAST(pos - pos_le AS DOUBLE) / (n - n_le))
                    * (1 - CAST(pos - pos_le AS DOUBLE) / (n - n_le)))
               AS weighted_gini
      FROM cum WHERE n_le < n
    )
    SELECT round(thr, 2) AS split_threshold,
           CAST(n_le AS BIGINT) AS n_left,
           CAST(n_gt AS BIGINT) AS n_right,
           round(CAST(pos_le AS DOUBLE) / n_le, 6) AS rate_left,
           round(CAST(pos_gt AS DOUBLE) / n_gt, 6) AS rate_right,
           round(weighted_gini, 6) AS weighted_gini
    FROM split
    ORDER BY weighted_gini, thr
    LIMIT 1
    """,
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART decision stump: the best split "discount ≤ t" for predicting a
    returned line (l_returnflag = 'R'), chosen by minimum weighted Gini
    impurity over all candidate thresholds — the split-search primitive a
    distributed GBDT/random forest runs per node, in its histogram form
    (class counts per feature value FIRST, threshold scan on the bounded
    grid SECOND — never a per-row sort).

    Class counts are exact integers via one map-side-combined groupBy; the
    cumulative prefix over the ≤11-value grid makes every threshold's
    left/right counts exact; Gini is fixed-shape double algebra with a
    (gini, threshold) total-order pick.

    Scale: one fact pass to |distinct feature values| rows — the reason
    histogram-based tree learners (LightGBM et al.) scale. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    lab = li.select(
        F.col("l_discount").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    # checkpointed once (r6): the totals and the cumulative sweep both
    # re-derived the counts (2 lineitem scans in the plan); the
    # ≤|distinct discounts| grid materializes once
    grid = lab.groupBy(F.col("x").alias("thr")).agg(
        bcount("n_at"), F.sum("y").cast("bigint").alias("pos_at")
    ).localCheckpoint(eager=True)
    tot = grid.agg(
        F.sum("n_at").cast("bigint").alias("n"),
        F.sum("pos_at").cast("bigint").alias("pos"),
    )
    wcum = Window.orderBy("thr").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.crossJoin(F.broadcast(tot)).select(
        "thr",
        F.sum("n_at").over(wcum).cast("bigint").alias("n_le"),
        F.sum("pos_at").over(wcum).cast("bigint").alias("pos_le"),
        "n",
        "pos",
    )
    p_le = F.col("pos_le").cast("double") / F.col("n_le")
    n_gt = F.col("n") - F.col("n_le")
    pos_gt = F.col("pos") - F.col("pos_le")
    p_gt = pos_gt.cast("double") / n_gt
    wg = (F.col("n_le").cast("double") / F.col("n")) * (
        F.lit(2.0) * p_le * (1 - p_le)
    ) + (n_gt.cast("double") / F.col("n")) * (F.lit(2.0) * p_gt * (1 - p_gt))
    split = cum.filter(F.col("n_le") < F.col("n")).select(
        "thr",
        "n_le",
        n_gt.alias("n_gt"),
        p_le.alias("rate_left"),
        p_gt.alias("rate_right"),
        wg.alias("weighted_gini"),
    )
    return (
        split.orderBy("weighted_gini", "thr")
        .limit(1)
        .select(
            F.round("thr", 2).alias("split_threshold"),
            F.col("n_le").cast("bigint").alias("n_left"),
            F.col("n_gt").cast("bigint").alias("n_right"),
            F.round("rate_left", 6).alias("rate_left"),
            F.round("rate_right", 6).alias("rate_right"),
            F.round("weighted_gini", 6).alias("weighted_gini"),
        )
    )


@register(
    "q_cold_start_coverage",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey
    ),
    connected AS (SELECT DISTINCT pa AS pk FROM pairs),
    sold AS (SELECT DISTINCT l_partkey AS pk FROM lineitem),
    cat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_catalog FROM part)
    SELECT (SELECT n_catalog FROM cat) AS n_catalog,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sold) AS n_sold,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM connected) AS n_co_purchased,
           CAST((SELECT COUNT(*) FROM sold)
                - (SELECT COUNT(*) FROM connected) AS BIGINT)
             AS n_isolated,
           CAST((SELECT n_catalog FROM cat)
                - (SELECT COUNT(*) FROM sold) AS BIGINT) AS n_never_sold,
           round(CAST((SELECT COUNT(*) FROM connected) AS DOUBLE)
                 / (SELECT n_catalog FROM cat), 6) AS cf_coverage
    """,
)
def q_cold_start_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender cold-start coverage: how much of the catalog a
    co-purchase (item-CF) recommender can serve — parts with at least one
    basket companion vs parts sold but never co-purchased (isolated) vs
    parts never sold at all — the coverage audit that decides how big the
    content-based fallback must be.

    All-integer set sizes; the co-purchase pair generation is the
    order-local self-join (both sides cluster on l_orderkey, ≤7-line
    baskets bound the expansion — the q_market_basket_pairs shape).

    Scale: one co-partitioned basket join + three distincts. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    # single scan (r6): the co-purchase self-join exploded every k-part
    # order into k(k-1) pairs and scanned lineitem three times; a part is
    # co-purchased iff SOME order contains it alongside a different part,
    # i.e. its max per-order distinct-part count is ≥ 2 — one scan, one
    # dedup, one window, no pair explosion
    d = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    per_pk = (
        d.select(
            "pk",
            F.count(F.lit(1))
            .over(Window.partitionBy("ok"))
            .alias("parts_in_order"),
        )
        .groupBy("pk")
        .agg(F.max("parts_in_order").alias("mx"))
    )
    stats = per_pk.agg(
        bcount("n_sold"),
        F.count_if(F.col("mx") >= 2).cast("bigint").alias("n_co_purchased"),
    )
    n_cat = part.agg(bcount("n_catalog"))
    return (
        n_cat.crossJoin(F.broadcast(stats))
        .select(
            "n_catalog",
            "n_sold",
            "n_co_purchased",
            (F.col("n_sold") - F.col("n_co_purchased"))
            .cast("bigint")
            .alias("n_isolated"),
            (F.col("n_catalog") - F.col("n_sold"))
            .cast("bigint")
            .alias("n_never_sold"),
            F.round(
                F.col("n_co_purchased").cast("double") / F.col("n_catalog"), 6
            ).alias("cf_coverage"),
        )
    )


@register(
    "q_eta_squared_dow",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(isodow(date_trunc('day', l_shipdate)) AS BIGINT) AS dow,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(20,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS ybar
      FROM daily
    ),
    g AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(y AS DECIMAL(20,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS m_g
      FROM daily GROUP BY 1
    ),
    sst AS (
      SELECT CAST(SUM(CAST((y - t.ybar) * (y - t.ybar)
                           AS DECIMAL(28,6))) AS DOUBLE) AS ss_total
      FROM daily, t
    ),
    ssb AS (
      SELECT CAST(SUM(CAST(CAST(n_g AS DOUBLE) * (m_g - t.ybar)
                           * (m_g - t.ybar) AS DECIMAL(28,6))) AS DOUBLE)
               AS ss_between,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g, t
    )
    SELECT t.n, ssb.k,
           round(ss_between, 2) AS ss_between,
           round(ss_total, 2) AS ss_total,
           round(ss_between / ss_total, 6) AS eta_squared
    FROM t, sst, ssb
    """,
)
def q_eta_squared_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """η² (variance explained) of ISO weekday on daily revenue:
    SS_between / SS_total — the effect-size companion to the ANOVA F-test
    (q_anova_value_by_type answers "significant?", η² answers "how much")
    and a cheaper single-number check than the full STL decomposition.

    All sums of squares derive from exact DECIMAL per-group moments with
    fixed-shape double algebra.

    Scale: daily aggregation then a 7-row moment grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    ).select((F.weekday("d") + 1).cast("bigint").alias("dow"), "y")
    # checkpointed once (r6): the grand moments, per-dow moments, and the
    # SS_total pass each re-derived the fact rollup (5 lineitem scans in
    # the plan); the calendar-bounded (dow, y) grid materializes once
    daily = daily.localCheckpoint(eager=True)
    t = daily.agg(
        bcount("n"),
        (
            F.sum(dec("y", "decimal(20,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("ybar"),
    )
    g = daily.groupBy("dow").agg(
        bcount("n_g"),
        (
            F.sum(dec("y", "decimal(20,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m_g"),
    )
    dy = F.col("y") - F.col("ybar")
    sst = (
        daily.crossJoin(F.broadcast(t))
        .agg(
            F.sum((dy * dy).cast("decimal(28,6)")).cast("double").alias("ss_total")
        )
    )
    dm = F.col("m_g") - F.col("ybar")
    ssb = (
        g.crossJoin(F.broadcast(t))
        .agg(
            F.sum(
                (F.col("n_g").cast("double") * dm * dm).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("ss_between"),
            bcount("k"),
        )
    )
    return (
        t.crossJoin(F.broadcast(sst))
        .crossJoin(F.broadcast(ssb))
        .select(
            "n",
            "k",
            F.round("ss_between", 2).alias("ss_between"),
            F.round("ss_total", 2).alias("ss_total"),
            F.round(F.col("ss_between") / F.col("ss_total"), 6).alias(
                "eta_squared"
            ),
        )
    )
