"""Analytics batch 46: market beta of a revenue series, Lorenz curve
points, entity-resolution fuzzy join (blocked levenshtein), and a
difference-in-differences treatment-effect estimate.

Beta reuses the daily-grid return construction of q_sharpe_ratio with
two-series moment sums through DECIMAL. The fuzzy join shows the
blocking-before-edit-distance discipline (never all-pairs levenshtein at
scale). DiD is pure exact-mean algebra on a 2×2 grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_rolling_beta",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS m
      FROM lineitem GROUP BY 1
    ),
    ret AS (
      SELECT y / LAG(y) OVER (ORDER BY d) - 1 AS ra,
             m / LAG(m) OVER (ORDER BY d) - 1 AS rm
      FROM daily
    ),
    rr AS (SELECT ra, rm FROM ret WHERE ra IS NOT NULL),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ra AS DECIMAL(18,12))) AS DOUBLE) AS sa,
             CAST(SUM(CAST(rm AS DECIMAL(18,12))) AS DOUBLE) AS sm,
             CAST(SUM(CAST(ra * rm AS DECIMAL(18,12))) AS DOUBLE) AS sam,
             CAST(SUM(CAST(rm * rm AS DECIMAL(18,12))) AS DOUBLE) AS smm
      FROM rr
    )
    SELECT n,
           round((sam - sa * sm / n) / (smm - sm * sm / n), 6) AS beta,
           round(sa / n - (sam - sa * sm / n) / (smm - sm * sm / n)
                 * (sm / n), 6) AS alpha_daily
    FROM s
    """,
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM-style beta of gross daily revenue returns against the
    discounted-revenue "market" series (and the residual daily alpha):
    cov(r_a, r_m)/var(r_m) over the post-aggregate daily grid — how
    levered the gross line is to the net market.

    Both series derive from one aggregation pass (two DECIMAL sums per
    day); returns are lag-window doubles; the four moment sums route
    per-term through DECIMAL(18,12).

    Scale: identical to q_sharpe_ratio — ordered windows only on the
    #days grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("m"),
    )
    w = Window.orderBy("d")
    ret = daily.select(
        (F.col("y") / F.lag("y").over(w) - 1).alias("ra"),
        (F.col("m") / F.lag("m").over(w) - 1).alias("rm"),
    ).filter(F.col("ra").isNotNull())
    s = ret.agg(
        bcount("n"),
        F.sum(F.col("ra").cast("decimal(18,12)")).cast("double").alias("sa"),
        F.sum(F.col("rm").cast("decimal(18,12)")).cast("double").alias("sm"),
        F.sum((F.col("ra") * F.col("rm")).cast("decimal(18,12)"))
        .cast("double")
        .alias("sam"),
        F.sum((F.col("rm") * F.col("rm")).cast("decimal(18,12)"))
        .cast("double")
        .alias("smm"),
    )
    n = F.col("n")
    beta = (F.col("sam") - F.col("sa") * F.col("sm") / n) / (
        F.col("smm") - F.col("sm") * F.col("sm") / n
    )
    return s.select(
        "n",
        F.round(beta, 6).alias("beta"),
        F.round(F.col("sa") / n - beta * (F.col("sm") / n), 6).alias(
            "alpha_daily"
        ),
    )


@register(
    "q_lorenz_curve",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT s,
             NTILE(10) OVER (ORDER BY s, o_custkey) AS decile
      FROM spend
    ),
    tot AS (
      SELECT CAST(SUM(s) AS DOUBLE) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM spend
    ),
    dec_ AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(s) AS DOUBLE) AS spend
      FROM ranked GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_customers,
           round(spend / total, 6) AS spend_share,
           round(CAST(SUM(spend) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / total, 6) AS cum_spend_share
    FROM dec_, tot
    """,
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend by decile: each spend-ranked decile's
    share and cumulative share of total revenue — the curve whose area
    defect IS q_gini_customer_spend, reported as plottable points
    ("bottom 50% of customers hold X% of spend").

    Deciles come from NTILE over (exact decimal spend, custkey) — a total
    order, so bucket boundaries are identical across engines; shares are
    ratios of exact DECIMAL sums (the decile partial sums stay decimal into
    the cumulative window).

    Scale: per-customer reduce, then ranking over |customers| — at 100 TB
    the ntile is replaced by quantile cut-points from approx_percentile
    with the same 10-row output. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the decile rank and the totals both
    # re-derived the rollup (2 orders scans in the plan); the
    # customer-domain grid materializes once
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).alias("s")
    ).localCheckpoint(eager=True)
    ranked = spend.select(
        "s", F.ntile(10).over(Window.orderBy("s", "o_custkey")).alias("decile")
    )
    tot = spend.agg(
        F.sum("s").cast("double").alias("total"), bcount("n_cust")
    )
    dec_ = ranked.groupBy("decile").agg(
        bcount("n_customers"), F.sum("s").cast("double").alias("spend")
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return dec_.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        F.round(F.col("spend") / F.col("total"), 6).alias("spend_share"),
        F.round(
            F.sum("spend").over(wcum).cast("double") / F.col("total"), 6
        ).alias("cum_spend_share"),
    )


@register(
    "q_fuzzy_name_join",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM names a
      JOIN names b
        ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
       AND abs(length(a.p_name) - length(b.p_name)) <= 2
       AND a.p_name < b.p_name
    )
    SELECT name_a, name_b, dist
    FROM blocked
    WHERE dist <= 3
    """,
)
def q_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: near-identical part names within
    levenshtein distance 3, generated through *blocking* (same first
    character + length within ±2) so edit distance only runs on candidate
    pairs — the discipline that makes fuzzy matching feasible at 100 TB
    (all-pairs levenshtein is quadratic in both pairs and string length).

    levenshtein is exact integer dynamic programming — identical in both
    engines; the pair set is made canonical by a < b ordering.

    Scale: blocking keys turn the cross join into an equi-join on
    (first_char, ~length); block sizes bound the quadratic term, and a hot
    block (all names alike) is handled by AQE skew split — same shape as
    the MinHash LSH bucket join. §2.B [NS].
    """
    part = load(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    blocked = a.join(
        b,
        (
            F.substring("name_a", 1, 1) == F.substring("name_b", 1, 1)
        )
        & (
            F.abs(F.length("name_a") - F.length("name_b")) <= 2
        )
        & (F.col("name_a") < F.col("name_b")),
    )
    return blocked.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
    ).filter(F.col("dist") <= 3)


@register(
    "q_diff_in_diff",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN s.s_nationkey < 5 THEN 1 ELSE 0 END AS treated,
             CASE WHEN year(l.l_shipdate) >= 1996 THEN 1 ELSE 0 END AS post,
             l.l_extendedprice * (1 - l.l_discount) AS y
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ),
    cell AS (
      SELECT treated, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_y
      FROM base GROUP BY 1, 2
    ),
    g AS (
      SELECT
        MAX(CASE WHEN treated=1 AND post=1 THEN mean_y END) AS t_post,
        MAX(CASE WHEN treated=1 AND post=0 THEN mean_y END) AS t_pre,
        MAX(CASE WHEN treated=0 AND post=1 THEN mean_y END) AS c_post,
        MAX(CASE WHEN treated=0 AND post=0 THEN mean_y END) AS c_pre,
        CAST(SUM(n) AS BIGINT) AS n_total
      FROM cell
    )
    SELECT n_total,
           round(t_pre, 6) AS treated_pre,
           round(t_post, 6) AS treated_post,
           round(c_pre, 6) AS control_pre,
           round(c_post, 6) AS control_post,
           round((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate
    FROM g
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: treatment = suppliers from nations 0–4,
    post-period = shipments from 1996 on; the DiD estimate
    (Δtreated − Δcontrol) of mean net line revenue strips both the
    time trend and the fixed treatment/control gap — the quasi-experimental
    workhorse (companion to q_fixed_effects_ols and q_ab_conversion_lift).

    Four exact-decimal cell means, one fixed-shape double contrast.

    Scale: one fact scan with a broadcast supplier join, map-side-combined
    to a 2×2 grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    base = li.join(supp, li.l_suppkey == supp.s_suppkey).select(
        F.when(F.col("s_nationkey") < 5, 1).otherwise(0).alias("treated"),
        F.when(F.year("l_shipdate") >= 1996, 1).otherwise(0).alias("post"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y"),
    )
    cell = base.groupBy("treated", "post").agg(
        bcount("n"),
        (
            F.sum(dec("y")).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_y"),
    )

    def pick(t, p, name):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean_y"))
        ).alias(name)

    g = cell.agg(
        pick(1, 1, "t_post"),
        pick(1, 0, "t_pre"),
        pick(0, 1, "c_post"),
        pick(0, 0, "c_pre"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return g.select(
        "n_total",
        F.round("t_pre", 6).alias("treated_pre"),
        F.round("t_post", 6).alias("treated_post"),
        F.round("c_pre", 6).alias("control_pre"),
        F.round("c_post", 6).alias("control_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_estimate"),
    )
