"""Analytics batch 93: Cronbach's alpha internal consistency of the
activity metric, D'Hondt divisor apportionment of promotion slots across
brands, and Christoffersen coverage backtesting of the historical VaR
rule.

D'Hondt completes the allocation family next to
q_proration_largest_remainder (quota method) and q_neyman_allocation
(variance-optimal): divisor methods are what parliaments and ad-slot
auctions actually use, and the two methods disagree in exactly the
cases worth auditing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .relations import DAILY_ORDER_REVENUE_SQL, daily_order_revenue

_SEATS = 100


@register(
    "q_cronbach_alpha",
    oracle="""
    WITH items AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE day(ts) <= 7) AS BIGINT) AS i1,
             CAST(COUNT(*) FILTER (WHERE day(ts) BETWEEN 8 AND 14)
                  AS BIGINT) AS i2,
             CAST(COUNT(*) FILTER (WHERE day(ts) BETWEEN 15 AND 21)
                  AS BIGINT) AS i3,
             CAST(COUNT(*) FILTER (WHERE day(ts) >= 22) AS BIGINT) AS i4
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(i1) AS BIGINT) AS s1, CAST(SUM(i1 * i1) AS BIGINT)
               AS q1,
             CAST(SUM(i2) AS BIGINT) AS s2, CAST(SUM(i2 * i2) AS BIGINT)
               AS q2,
             CAST(SUM(i3) AS BIGINT) AS s3, CAST(SUM(i3 * i3) AS BIGINT)
               AS q3,
             CAST(SUM(i4) AS BIGINT) AS s4, CAST(SUM(i4 * i4) AS BIGINT)
               AS q4,
             CAST(SUM(i1 + i2 + i3 + i4) AS BIGINT) AS st,
             CAST(SUM((i1 + i2 + i3 + i4) * (i1 + i2 + i3 + i4)) AS BIGINT)
               AS qt
      FROM items
    ),
    vars_t AS (
      SELECT n,
             (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
             + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) / (n - 1)
             + (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n) / (n - 1)
             + (CAST(q4 AS DOUBLE) - CAST(s4 AS DOUBLE) * s4 / n) / (n - 1)
               AS sum_item_var,
             (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) / (n - 1)
               AS total_var
      FROM mom
    )
    SELECT n AS n_users,
           round(sum_item_var, 6) AS sum_item_variances,
           round(total_var, 6) AS total_variance,
           round(4.0 / 3 * (1.0 - sum_item_var / total_var), 6)
             AS cronbach_alpha,
           CASE WHEN 4.0 / 3 * (1.0 - sum_item_var / total_var) >= 0.7
                THEN 'acceptable' ELSE 'low' END AS verdict
    FROM vars_t
    """,
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over four week-of-month activity "items" per
    user: α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total) — the multi-item
    internal-consistency generalization of q_split_half_reliability (one
    split gives one estimate; alpha averages over all splits), deciding
    whether the four weekly sub-scores measure one stable trait
    (engagement) or four different things.

    Determinism: all item and total moments are exact integer sums; the
    item-variance sum is written as an explicit 4-term chain (no n-ary
    float SUM).

    Scale: one user rollup with conditional counting → 1-row algebra.
    §2.B experimentation surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    d = F.dayofmonth("ts")
    items = ev.groupBy("user_id").agg(
        F.count_if(d <= 7).cast("bigint").alias("i1"),
        F.count_if(d.between(8, 14)).cast("bigint").alias("i2"),
        F.count_if(d.between(15, 21)).cast("bigint").alias("i3"),
        F.count_if(d >= 22).cast("bigint").alias("i4"),
    )
    tot = F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4")
    mom = items.agg(
        bcount("n"),
        *[
            c
            for i in range(1, 5)
            for c in (
                F.sum(f"i{i}").cast("bigint").alias(f"s{i}"),
                F.sum(F.col(f"i{i}") * F.col(f"i{i}"))
                .cast("bigint")
                .alias(f"q{i}"),
            )
        ],
        F.sum(tot).cast("bigint").alias("st"),
        F.sum(tot * tot).cast("bigint").alias("qt"),
    )
    n = F.col("n")

    def v(s: str, q: str):
        return (
            F.col(q).cast("double") - F.col(s).cast("double") * F.col(s) / n
        ) / (n - 1)

    sum_item_var = v("s1", "q1") + v("s2", "q2") + v("s3", "q3") + v("s4", "q4")
    total_var = v("st", "qt")
    alpha = F.lit(4.0) / 3 * (1.0 - sum_item_var / total_var)
    return mom.select(
        n.alias("n_users"),
        F.round(sum_item_var, 6).alias("sum_item_variances"),
        F.round(total_var, 6).alias("total_variance"),
        F.round(alpha, 6).alias("cronbach_alpha"),
        F.when(alpha >= 0.7, "acceptable").otherwise("low").alias("verdict"),
    )


@register(
    "q_dhondt_apportionment",
    oracle=f"""
    WITH votes AS (
      SELECT p.p_brand AS b,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS v
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    ),
    quotients AS (
      SELECT b, v, d.d, v / d.d AS q
      FROM votes, (SELECT UNNEST(range(1, {_SEATS} + 1)) AS d) d
    ),
    ranked AS (
      SELECT b, q,
             ROW_NUMBER() OVER (ORDER BY q DESC, b, d) AS rn
      FROM quotients
    ),
    seats AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_seats
      FROM ranked WHERE rn <= {_SEATS} GROUP BY b
    ),
    tot AS (SELECT CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS tv
            FROM votes)
    SELECT s.b AS brand, s.n_seats,
           round(votes.v / tot.tv * {_SEATS}, 4) AS exact_quota,
           round(s.n_seats - votes.v / tot.tv * {_SEATS}, 4)
             AS seats_minus_quota
    FROM seats s JOIN votes ON votes.b = s.b CROSS JOIN tot
    ORDER BY s.n_seats DESC, s.b
    LIMIT 10
    """,
)
def q_dhondt_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Hondt divisor apportionment of 100 promotion slots across brands
    by revenue: rank the quotients v/1, v/2, … and award the top 100 —
    the divisor method's systematic large-party advantage is visible in
    seats−quota, making this the auditing companion to
    q_proration_largest_remainder (the quota method, which has no such
    bias but suffers the Alabama paradox instead).

    Determinism: quotients are identical double ratios on both engines;
    the seat ranking tiebreaks on (brand, divisor).

    Scale: |brands|×100 quotients ranked in one window; everything is
    grid-sized. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    votes = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("b"))
        .agg(F.sum(dec("l_extendedprice")).cast("double").alias("v"))
    )
    # checkpointed once (r6): quotients, the vote total, and the final
    # join each re-derived the lineitem⨝part rollup (6 fact scans in the
    # plan); the ≤|brands|-row vote grid materializes once
    votes = votes.localCheckpoint(eager=True)
    divs = spark.range(1, _SEATS + 1).select(F.col("id").cast("int").alias("d"))
    quotients = votes.crossJoin(F.broadcast(divs)).select(
        "b", "v", "d", (F.col("v") / F.col("d")).alias("q")
    )
    ranked = quotients.select(
        "b",
        F.row_number()
        .over(Window.orderBy(F.col("q").desc(), "b", "d"))
        .alias("rn"),
    )
    seats = ranked.filter(F.col("rn") <= _SEATS).groupBy("b").agg(
        bcount("n_seats")
    )
    tot = votes.agg(
        F.sum(F.col("v").cast("decimal(28,6)")).cast("double").alias("tv")
    )
    j = seats.join(votes, "b").crossJoin(F.broadcast(tot))
    quota = F.col("v") / F.col("tv") * _SEATS
    return (
        j.select(
            F.col("b").alias("brand"),
            "n_seats",
            F.round(quota, 4).alias("exact_quota"),
            F.round(F.col("n_seats") - quota, 4).alias("seats_minus_quota"),
        )
        .orderBy(F.col("n_seats").desc(), "brand")
        .limit(10)
    )


@register(
    "q_var_backtest",
    oracle=f"""
    WITH daily AS ({DAILY_ORDER_REVENUE_SQL}),
    ret AS (
      SELECT d, rev / lag(rev) OVER (ORDER BY d) - 1.0 AS r FROM daily
    ),
    clean AS (SELECT d, r FROM ret WHERE r IS NOT NULL),
    cutoff AS (
      SELECT r AS var95 FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, d) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM clean) x
      WHERE rn = CAST(CEIL(0.05 * n) AS BIGINT)
    ),
    flags AS (
      SELECT d, CASE WHEN c.r <= v.var95 THEN 1 ELSE 0 END AS x
      FROM clean c, cutoff v
    ),
    trans AS (
      SELECT x, LAG(x) OVER (ORDER BY d) AS px FROM flags
    ),
    counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS n_exceed,
             CAST(COUNT(*) FILTER (WHERE px = 0 AND x = 1) AS BIGINT)
               AS n01,
             CAST(COUNT(*) FILTER (WHERE px = 1 AND x = 1) AS BIGINT)
               AS n11,
             CAST(COUNT(*) FILTER (WHERE px = 1) AS BIGINT) AS n1x,
             CAST(COUNT(*) FILTER (WHERE px = 0) AS BIGINT) AS n0x
      FROM trans WHERE px IS NOT NULL
    )
    SELECT n + 1 AS n_days, n_exceed,
           round(CAST(n_exceed AS DOUBLE) / (n + 1), 6) AS exceed_rate,
           round(CAST(n01 AS DOUBLE) / n0x, 6) AS p_exceed_after_calm,
           round(CAST(n11 AS DOUBLE) / NULLIF(n1x, 0), 6)
             AS p_exceed_after_exceed,
           CASE WHEN CAST(n11 AS DOUBLE) / NULLIF(n1x, 0)
                     > 2.0 * CAST(n01 AS DOUBLE) / n0x
                THEN 'clustered_exceedances' ELSE 'independent_like' END
             AS christoffersen_verdict
    FROM counts
    """,
)
def q_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Christoffersen-style VaR backtest: flag days whose return breaches
    the in-sample 5% historical VaR, then compare P(breach | yesterday
    breached) against P(breach | yesterday calm) — unconditional coverage
    (the breach rate should be ≈5%) plus the independence check that
    catches *clustered* breaches, which is how VaR models actually fail
    (q_var_historical sets the cutoff; this audits it; q_page_hinkley is
    the online cousin).

    Determinism: the VaR cutoff is an exact order statistic; breach
    flags and transition counts are exact integers.

    Scale: calendar-bounded daily grid, two ordered windows, 1-row
    verdict. §2.B [NS].
    """
    # checkpointed once (r6): the VaR cutoff and the exceedance flags
    # both re-derived the rollup (2 orders scans in the plan); the
    # calendar-bounded day grid materializes once
    daily = daily_order_revenue(spark, sf_dir).localCheckpoint(eager=True)
    ret = daily.select(
        "d", (F.col("rev") / F.lag("rev").over(Window.orderBy("d")) - 1.0).alias("r")
    ).filter(F.col("r").isNotNull())
    cutoff = (
        ret.select(
            "r",
            F.row_number().over(Window.orderBy("r", "d")).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
        )
        .filter(F.col("rn") == F.ceil(0.05 * F.col("n")).cast("bigint"))
        .select(F.col("r").alias("var95"))
    )
    flags = ret.crossJoin(F.broadcast(cutoff)).select(
        "d", F.when(F.col("r") <= F.col("var95"), 1).otherwise(0).alias("x")
    )
    trans = flags.select(
        "x", F.lag("x").over(Window.orderBy("d")).alias("px")
    ).filter(F.col("px").isNotNull())
    counts = trans.agg(
        bcount("n"),
        F.sum("x").cast("bigint").alias("n_exceed"),
        F.count_if((F.col("px") == 0) & (F.col("x") == 1))
        .cast("bigint")
        .alias("n01"),
        F.count_if((F.col("px") == 1) & (F.col("x") == 1))
        .cast("bigint")
        .alias("n11"),
        F.count_if(F.col("px") == 1).cast("bigint").alias("n1x"),
        F.count_if(F.col("px") == 0).cast("bigint").alias("n0x"),
    )
    p01 = F.col("n01").cast("double") / F.col("n0x")
    p11 = F.col("n11").cast("double") / F.nullif(F.col("n1x"), F.lit(0))
    return counts.select(
        (F.col("n") + 1).alias("n_days"),
        "n_exceed",
        F.round(F.col("n_exceed").cast("double") / (F.col("n") + 1), 6).alias(
            "exceed_rate"
        ),
        F.round(p01, 6).alias("p_exceed_after_calm"),
        F.round(p11, 6).alias("p_exceed_after_exceed"),
        F.when(p11 > 2.0 * p01, "clustered_exceedances")
        .otherwise("independent_like")
        .alias("christoffersen_verdict"),
    )
