"""Analytics batch 134: Chow structural-break test, Goldfeld–Quandt
heteroskedasticity test, and the Buishand range homogeneity test.

The Chow test asks whether one regression or two (before/after a break
date) describes the trend — the F-test every "did the launch change the
slope?" question reduces to. Goldfeld–Quandt tests whether residual
variance GROWS with the regressor by comparing segment fits (the
ordering-based complement to q_breusch_pagan's auxiliary regression).
Buishand's range test is hydrology's classic mean-shift detector —
rescaled cumulative deviations — rounding out the changepoint shelf
(CUSUM, Pettitt, Page–Hinkley, binary segmentation) with the
range-statistic form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .distrib import two_level_order
from .registry import load, register


def _ols_rss_sql(src: str) -> str:
    """Closed-form OLS RSS of y ~ a + b·x over `src(x, y)` where x and y
    are exact DECIMAL columns: RSS = Syy − Sxy²/Sxx on centered moments.

    All per-row products stay in decimal (exact in both engines); only the
    six scalar moments are cast to DOUBLE, and the closed-form combination
    is scalar double arithmetic — identical op-for-op across engines. A
    per-row residual pass would instead cast large doubles to decimal,
    where Spark's shortest-string double→decimal cast diverges from
    DuckDB's exact binary expansion at the ~13th significant digit.
    """
    return f"""
      (SELECT (syy - sy * sy / k)
              - (sxy - sx * sy / k) * (sxy - sx * sy / k)
                / (sxx - sx * sx / k)
       FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS k,
                    CAST(FLOOR(SUM(x)) AS DOUBLE) AS sx,
                    CAST(FLOOR(SUM(y)) AS DOUBLE) AS sy,
                    CAST(FLOOR(SUM(CAST(x AS DECIMAL(19,6))
                                   * CAST(y AS DECIMAL(19,6)))) AS DOUBLE)
                      AS sxy,
                    CAST(FLOOR(SUM(CAST(x AS DECIMAL(19,6))
                                   * CAST(x AS DECIMAL(19,6)))) AS DOUBLE)
                      AS sxx,
                    CAST(FLOOR(SUM(CAST(y AS DECIMAL(19,6))
                                   * CAST(y AS DECIMAL(19,6)))) AS DOUBLE)
                      AS syy
             FROM {src}) m)
    """


def _rss_closed(df: DataFrame) -> DataFrame:
    """Spark twin of `_ols_rss_sql`: exact-decimal moments of (x, y), then
    RSS = Syy − Sxy²/Sxx in scalar double arithmetic (same expression
    shape as the oracle, so the doubles match op-for-op). One aggregation
    pass, no per-row residual materialization — map-side combinable."""
    x19 = F.col("x").cast("decimal(19,6)")
    y19 = F.col("y").cast("decimal(19,6)")
    # moments FLOOR to integers first: floor of an exact decimal sum is
    # mode-free (Spark decimal downcasts round HALF_UP while DuckDB's
    # TRUNCATE — only floor agrees everywhere for positive sums), and an
    # integer value < 2^53 casts to DOUBLE exactly — a scale-12 decimal
    # would instead go through DuckDB's raw/10^scale double division
    # (double-rounded) vs Spark's correctly-rounded BigDecimal cast,
    # which disagree by 1 ulp at ~1e13.
    mom = df.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.floor(F.sum("x")).cast("double").alias("sx"),
        F.floor(F.sum("y")).cast("double").alias("sy"),
        F.floor(F.sum(x19 * y19)).cast("double").alias("sxy"),
        F.floor(F.sum(x19 * x19)).cast("double").alias("sxx"),
        F.floor(F.sum(y19 * y19)).cast("double").alias("syy"),
    )
    rss = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("k")) - (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")
    ) * (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k")
    )
    return mom.select(rss.alias("rss"))


@register(
    "q_chow_test",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                  AS DECIMAL(18,6)) AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y
      FROM events WHERE value IS NOT NULL GROUP BY CAST(ts AS DATE)
    ),
    brk AS (SELECT CAST(COUNT(*) AS BIGINT) // 2 AS b,
                   CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    seg1 AS MATERIALIZED (
      SELECT d.x, d.y FROM daily d, brk WHERE d.x <= brk.b
    ),
    seg2 AS MATERIALIZED (
      SELECT d.x, d.y FROM daily d, brk WHERE d.x > brk.b
    ),
    rss AS (
      SELECT {_ols_rss_sql('daily')} AS rss_pooled,
             {_ols_rss_sql('seg1')} AS rss1,
             {_ols_rss_sql('seg2')} AS rss2,
             (SELECT n FROM brk) AS n,
             (SELECT b FROM brk) AS b
    )
    SELECT n AS n_days, b AS break_at,
           round(rss_pooled, 4) AS rss_pooled,
           round(rss1 + rss2, 4) AS rss_split,
           round(((rss_pooled - rss1 - rss2) / 2.0)
                 / ((rss1 + rss2) / (n - 4)), 6) AS chow_f,
           CAST(2 AS BIGINT) AS df1,
           CAST(n - 4 AS BIGINT) AS df2
    FROM rss
    """,
)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test on the daily revenue trend, break at the
    midpoint: F = [(RSS_pooled − RSS₁ − RSS₂)/p] / [(RSS₁+RSS₂)/(n−2p)]
    with p = 2 (intercept + slope). A large F says one line does NOT fit
    both halves — the regression-form changepoint test next to
    q_cusum_changepoint / q_pettitt_test (which locate shifts) and
    q_diff_in_diff (which assumes the break and estimates its size).

    Determinism: all three OLS fits use exact-decimal moments and the
    closed-form RSS = Syy − Sxy²/Sxx (scalar double arithmetic, same
    expression shape in both engines); the break index is integer.

    Scale: three moment passes over the bounded day grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(dec("value")).cast("decimal(18,6)").alias("y"))
        .select(
            F.row_number()
            .over(Window.orderBy("d"))
            .cast("decimal(18,6)")
            .alias("x"),
            "y",
        )
        .localCheckpoint(eager=True)
    )
    n = daily.count()
    b = n // 2

    r_all = _rss_closed(daily).select(F.col("rss").alias("rss_pooled"))
    r1 = _rss_closed(daily.filter(F.col("x") <= b)).select(
        F.col("rss").alias("rss1")
    )
    r2 = _rss_closed(daily.filter(F.col("x") > b)).select(
        F.col("rss").alias("rss2")
    )
    joined = r_all.crossJoin(F.broadcast(r1)).crossJoin(F.broadcast(r2))
    f_stat = ((F.col("rss_pooled") - F.col("rss1") - F.col("rss2")) / 2.0) / (
        (F.col("rss1") + F.col("rss2")) / (n - 4)
    )
    return joined.select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.lit(b).cast("bigint").alias("break_at"),
        F.round("rss_pooled", 4).alias("rss_pooled"),
        F.round(F.col("rss1") + F.col("rss2"), 4).alias("rss_split"),
        F.round(f_stat, 6).alias("chow_f"),
        F.lit(2).cast("bigint").alias("df1"),
        F.lit(n - 4).cast("bigint").alias("df2"),
    )


@register(
    "q_goldfeld_quandt",
    oracle=f"""
    WITH pts AS MATERIALIZED (
      SELECT CAST(l_quantity AS DECIMAL(18,6)) AS x,
             CAST(l_extendedprice AS DECIMAL(18,6)) AS y,
             CAST(row_number() OVER (
               ORDER BY l_quantity, l_orderkey, l_linenumber) AS BIGINT) AS r,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM lineitem
    ),
    seg1 AS MATERIALIZED (
      SELECT x, y FROM pts WHERE r <= n // 3
    ),
    seg2 AS MATERIALIZED (
      SELECT x, y FROM pts WHERE r > n - n // 3
    ),
    rss AS (
      SELECT {_ols_rss_sql('seg1')} AS rss_low,
             {_ols_rss_sql('seg2')} AS rss_high,
             (SELECT n // 3 FROM pts LIMIT 1) AS m
    )
    SELECT m AS n_per_segment,
           CAST(FLOOR(rss_low) AS BIGINT) AS rss_low_x,
           CAST(FLOOR(rss_high) AS BIGINT) AS rss_high_x,
           round((rss_high / (m - 2)) / (rss_low / (m - 2)), 6) AS gq_f
    FROM rss
    """,
)
def q_goldfeld_quandt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goldfeld–Quandt heteroskedasticity test for price ~ quantity: sort
    by the regressor, fit separate OLS lines to the bottom and top
    thirds, F = (RSS_high/df)/(RSS_low/df). F ≫ 1 means residual
    variance grows with quantity — the ordering-based test that
    complements q_breusch_pagan (auxiliary regression on fitted values):
    GQ needs no variance model, just a monotone suspicion.

    Determinism: segment membership is a (quantity, orderkey, linenumber)
    total order; both fits use exact-decimal moments and closed-form
    RSS = Syy − Sxy²/Sxx in scalar double arithmetic.

    Scale (r6 rewrite): the old global row_number window moved EVERY row
    to one task (Spark executes an unpartitioned window in a single
    partition) — the definitive straggler at 100 TB. The rank is now the
    distributed zipWithIndex: range-repartition on the sort key, sort
    within partitions (parallel), monotonically_increasing_id encodes
    (partition, row-offset), and per-partition row counts (a tiny
    aggregate) turn the offset into the exact global rank. Range
    partitions are ordered and the key is unique, so r is identical to
    the single-task rank row for row; partition count follows the
    session's shuffle-partition setting (a deployment knob, not a core
    count). §2.B [NS], guide §2.5.
    """
    li = load(spark, sf_dir, "lineitem")
    # r7: the ad-hoc zipWithIndex scaffold moved to the shared
    # distrib.two_level_order helper (same mid/offset-grid mechanics,
    # same 2^33 guard) — rank values identical (unique total order).
    ranked = two_level_order(
        li.select(
            F.col("l_quantity").cast("decimal(18,6)").alias("x"),
            F.col("l_extendedprice").cast("decimal(18,6)").alias("y"),
            "l_quantity",
            "l_orderkey",
            "l_linenumber",
        ),
        ["l_quantity", "l_orderkey", "l_linenumber"],
        rank_col="r",
        project=["x", "y"],
    )
    pts = ranked
    n = ranked.count()
    m = n // 3

    lo = _rss_closed(pts.filter(F.col("r") <= m)).select(
        F.col("rss").alias("rss_low")
    )
    hi = _rss_closed(pts.filter(F.col("r") > n - m)).select(
        F.col("rss").alias("rss_high")
    )
    return (
        lo.crossJoin(F.broadcast(hi))
        .select(
            F.lit(m).cast("bigint").alias("n_per_segment"),
            F.floor("rss_low").cast("bigint").alias("rss_low_x"),
            F.floor("rss_high").cast("bigint").alias("rss_high_x"),
            F.round(
                (F.col("rss_high") / (m - 2)) / (F.col("rss_low") / (m - 2)), 6
            ).alias("gq_f"),
        )
    )


@register(
    "q_buishand_range",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM daily
    ),
    devs AS (
      SELECT d.d, d.y, m.n, m.mu,
             CAST(SUM(CAST(d.y - m.mu AS DECIMAL(38,15))) OVER (
               ORDER BY d.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS sk
      FROM daily d, mom m
    ),
    sd AS (
      SELECT n, mu,
             sqrt(CAST(SUM(CAST((y - mu) * (y - mu) AS DECIMAL(38,15)))
                       AS DOUBLE) / n) AS s
      FROM devs GROUP BY n, mu
    )
    SELECT v.n AS n_days,
           round(MAX(v.sk) / (d.s * sqrt(CAST(v.n AS DOUBLE))), 6)
             AS max_rescaled,
           round(MIN(v.sk) / (d.s * sqrt(CAST(v.n AS DOUBLE))), 6)
             AS min_rescaled,
           round((MAX(v.sk) - MIN(v.sk))
                 / (d.s * sqrt(CAST(v.n AS DOUBLE))), 6)
             AS buishand_r
    FROM devs v, sd d
    GROUP BY v.n, d.s
    """,
)
def q_buishand_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buishand range test for a mean shift in daily revenue: partial
    sums of deviations S_k = Σ(yᵢ−ȳ), rescaled range
    R/√n = (max S_k − min S_k)/(s·√n) — a homogeneous series keeps the
    rescaled range small (critical ≈ 1.5 at 5% for moderate n); a level
    shift drives S_k far from zero mid-series. Hydrology's classic
    homogeneity check, rounding out q_cusum_changepoint (the same walk,
    thresholded differently) and q_pettitt_test (the rank analog).

    Determinism: partial sums are exact-decimal cumulative windows; σ is
    two-pass; max/min are order-free.

    Scale: one day rollup + one window pass over the bounded grid.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(dec("value")).cast("double").alias("y")
    )
    # checkpointed once (r6): the mean, the cumulative-deviation walk,
    # and the sd pass each re-derived the fact rollup (4 events scans in
    # the plan); the calendar-bounded day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    mom = daily.agg(
        bcount("n"),
        (F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    devs = daily.crossJoin(F.broadcast(mom)).select(
        "d",
        "y",
        "n",
        "mu",
        F.sum((F.col("y") - F.col("mu")).cast(D15))
        .over(wcum)
        .cast("double")
        .alias("sk"),
    )
    sd = devs.groupBy("n", "mu").agg(
        F.sqrt(
            F.sum(((F.col("y") - F.col("mu")) * (F.col("y") - F.col("mu"))).cast(D15))
            .cast("double")
            / F.col("n")
        ).alias("s")
    )
    scale = F.col("s") * F.sqrt(F.col("n").cast("double"))
    return (
        devs.groupBy("n")
        .agg(F.max("sk").alias("mx"), F.min("sk").alias("mn"))
        .join(F.broadcast(sd.select("n", "s")), "n")
        .select(
            F.col("n").alias("n_days"),
            F.round(F.col("mx") / scale, 6).alias("max_rescaled"),
            F.round(F.col("mn") / scale, 6).alias("min_rescaled"),
            F.round((F.col("mx") - F.col("mn")) / scale, 6).alias("buishand_r"),
        )
    )
