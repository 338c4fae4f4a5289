"""Analytics batch 24: robust statistics & trend estimation — MAD outlier
screen, trimmed mean, OLS daily-revenue trend, Theil-Sen robust slope,
cohort LTV curves.

Medians interpolate identically in Spark (``percentile``) and DuckDB
(``quantile_cont``): both average the two middle doubles, a single FP op.
Regression moments are BIGINT/DECIMAL-exact per
:mod:`watermill_spark.analytics.det`; only the final slope/intercept/R²
divisions run in DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import RATE, bcount, dec
from .registry import load, register


@register(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med, m.n,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(MAX(d.n) AS BIGINT) AS n,
           round(MAX(d.med), 6) AS median_value,
           round(MAX(mad.mad), 6) AS mad,
           CAST(SUM(CASE WHEN 0.6745 * d.adev > 3.5 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    GROUP BY 1
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event type: the robust
    z-score 0.6745·|x − median| / MAD flags values beyond 3.5 — the
    Iglewicz-Hoberg rule that survives the heavy tails that wreck the
    classic stddev z-score (cf. q_events_anomaly_zscore).

    The threshold compare is written multiplication-only (0.6745·dev >
    3.5·MAD) — no division, so no boundary ulp. Scale: two passes over
    events with a tiny per-type median table broadcast back each time
    (exact medians need the second pass by definition; at 100 TB swap the
    exact median for a t-digest and it becomes one pass). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med"), bcount("n")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    # checkpointed once (r6): the MAD pass and the outlier count each
    # re-derived the deviation stream → events⨝medians join (4 events
    # scans in the plan); the stream materializes once, leaving the
    # inherent two-pass read (per-type median, then deviations)
    dev = dev.localCheckpoint(eager=True)
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(0.6745 * F.col("adev") > 3.5 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register(
    "q_trimmed_mean",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey
             ) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN rn > n // 20 AND rn <= n - n // 20
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > n // 20 AND rn <= n - n // 20
                         THEN v END) AS DOUBLE)
             / CAST(SUM(CASE WHEN rn > n // 20 AND rn <= n - n // 20
                             THEN 1 ELSE 0 END) AS DOUBLE) AS trimmed_mean
    FROM r GROUP BY 1
    """,
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-two-sided trimmed mean of order value per priority class — the
    robust location estimate reported next to the plain mean in pricing
    dashboards. The trim boundary is rank-based with a total-order tiebreak
    (value, then order key), so the kept SET — not just its size — is
    identical across engines; the kept sum is decimal-exact.

    Scale: one hash shuffle on priority, one in-partition sort for the
    rank, one aggregate — no joins; the rank window and the groupBy share
    the same partitioning so AQE keeps them in one stage. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("decimal(18,2)")
    wp = Window.partitionBy("o_orderpriority")
    r = orders.select(
        "o_orderpriority",
        v.alias("v"),
        F.row_number().over(wp.orderBy(v, "o_orderkey")).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    kept = (F.col("rn") > F.expr("n div 20")) & (
        F.col("rn") <= F.col("n") - F.expr("n div 20")
    )
    return r.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        (
            F.sum(F.when(kept, F.col("v"))).cast("double")
            / F.sum(F.when(kept, 1).otherwise(0)).cast("double")
        ).alias("trimmed_mean"),
    )


@register(
    "q_ols_daily_trend",
    oracle="""
    WITH daily AS (
      SELECT l_shipdate AS d,
             CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                            * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) * 100
                  AS BIGINT) AS yc
      FROM lineitem GROUP BY 1
    ),
    idx AS (
      SELECT CAST(date_diff('day', MIN(d) OVER (), d) AS BIGINT) AS t, yc
      FROM daily
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(t * t) AS BIGINT) AS stt,
             CAST(SUM(yc) AS BIGINT) AS sy,
             CAST(SUM(t * yc) AS BIGINT) AS sty,
             CAST(SUM(CAST(yc AS DECIMAL(38,0)) * yc) AS DECIMAL(38,0)) AS syy
      FROM idx
    )
    SELECT n AS n_days,
           round((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) / 100.0,
                 6) AS slope_per_day,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                    * CAST(st AS DOUBLE))
                 / CAST(n AS DOUBLE) / 100.0, 6) AS intercept,
           round(((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS r2
    FROM m
    """,
)
def q_ols_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend of daily discounted revenue against the
    day index: slope (revenue/day), intercept, and R². Revenue is summed in
    exact DECIMAL per day, scaled to integer cents, and all five regression
    moments are BIGINT (Σy² in DECIMAL(38,0) — cents² would overflow
    BIGINT) — the closed-form slope/intercept/R² are then a handful of
    identical double ops on both engines, rounded 6dp.

    Scale: one map-side-combined groupBy on ship date; the day index comes
    from a MIN() OVER () on the ~2.4k-row daily table (no self-join, no
    driver round-trip). §2.B [NS] surface.
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        (
            F.round(
                F.sum(
                    dec("l_extendedprice") * (F.lit(1) - dec("l_discount", RATE))
                ),
                2,
            )
            * 100
        )
        .cast("bigint")
        .alias("yc")
    )
    idx = daily.select(
        F.datediff(
            F.col("d"), F.min("d").over(Window.partitionBy(F.lit(1)))
        )
        .cast("bigint")
        .alias("t"),
        "yc",
    )
    m = idx.agg(
        bcount("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("yc").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("yc")).cast("bigint").alias("sty"),
        F.sum(F.col("yc").cast("decimal(38,0)") * F.col("yc"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    n = F.col("n").cast("double")
    st, stt = F.col("st").cast("double"), F.col("stt").cast("double")
    sy, sty = F.col("sy").cast("double"), F.col("sty").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sty - st * sy
    varx = n * stt - st * st
    return m.select(
        F.col("n").alias("n_days"),
        F.round(cov / varx / 100.0, 6).alias("slope_per_day"),
        F.round((sy - cov / varx * st) / n / 100.0, 6).alias("intercept"),
        F.round((cov * cov) / (varx * (n * syy - sy * sy)), 6).alias("r2"),
    )


@register(
    "q_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT l_shipdate AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE)
               AS y
      FROM lineitem GROUP BY 1
    ),
    slopes AS (
      SELECT (b.y - a.y) / CAST(date_diff('day', a.d, b.d) AS DOUBLE) AS s
      FROM daily a JOIN daily b ON a.d < b.d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(s, 0.5), 6) AS theil_sen_slope
    FROM slopes
    """,
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the median of all pairwise slopes of the
    daily-revenue series — immune to the outlier days that tilt the OLS
    line (compare against q_ols_daily_trend). Each slope is one double
    subtraction and division on exact-decimal daily sums; the median
    interpolates the two middle doubles identically in both engines.

    Scale: the pair expansion runs on the ~2.4k-row DAILY aggregate — ~3M
    pairs regardless of input SF, because the date range (not the row
    count) fixes the series length. The non-equi self-join of the tiny
    aggregate is a deliberate broadcast nested loop (whitelisted); the raw
    fact table is never self-joined. §2.B [NS] surface.
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount", RATE)))
        .cast("double")
        .alias("y")
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): both pair sides re-derived the rollup
    # (2 lineitem scans in the plan); the calendar-bounded day grid
    # materializes once
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).select(
        (
            (F.col("b.y") - F.col("a.y"))
            / F.datediff(F.col("b.d"), F.col("a.d")).cast("double")
        ).alias("s")
    )
    return slopes.agg(
        bcount("n_pairs"),
        F.round(F.percentile("s", 0.5), 6).alias("theil_sen_slope"),
    )


@register(
    "q_cohort_ltv",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             MIN(date_trunc('month', o_orderdate)) AS cm
      FROM orders GROUP BY 1
    ),
    sizes AS (
      SELECT cm, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM fo GROUP BY 1
    ),
    rev AS (
      SELECT fo.cm,
             CAST((year(date_trunc('month', o.o_orderdate)) - year(fo.cm)) * 12
                  + (month(date_trunc('month', o.o_orderdate)) - month(fo.cm))
                  AS BIGINT) AS age_months,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
      GROUP BY 1, 2
    )
    SELECT CAST(rev.cm AS TIMESTAMP) AS cohort_month,
           rev.age_months,
           rev.n_orders,
           CAST(SUM(rev.rev) OVER (
                  PARTITION BY rev.cm ORDER BY rev.age_months
                ) AS DOUBLE) AS cum_revenue,
           CAST(SUM(rev.rev) OVER (
                  PARTITION BY rev.cm ORDER BY rev.age_months
                ) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             AS ltv_per_customer
    FROM rev JOIN sizes s ON rev.cm = s.cm
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order month,
    tracked by month-age since acquisition — cumulative revenue and LTV per
    cohort member, the table behind every retention-revenue chart. Month
    age uses the integer (year·12 + month) formula on both engines (no
    fractional months_between).

    Scale: first-order month and the revenue rollup are both co-partitioned
    on the customer key (one shuffle each, SMJ without extra exchange);
    cohort sizes broadcast onto the ≤(months × ages) result; the cumsum
    window runs per cohort on that tiny grid. §2.B [NS] surface.
    """
    orders = load(spark, sf_dir, "orders")
    # single scan (r6): the cohort map (consumed twice) and the aged
    # rollup each re-scanned orders; ONE scan now builds the
    # customer×month grid (checkpointed once — the q_slope_one
    # posting-list class), and the aged rollup re-sums its exact decimal
    # partials (decimal addition is associative, counts sum to counts)
    omg = orders.groupBy(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("om")
    ).agg(
        bcount("n_o"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mrev"),
    ).localCheckpoint(eager=True)
    fo = omg.groupBy("o_custkey").agg(F.min("om").alias("cm"))
    sizes = fo.groupBy("cm").agg(bcount("cohort_size"))
    rev = (
        omg.join(fo, "o_custkey")
        .groupBy(
            "cm",
            (
                (F.year("om") - F.year("cm")) * 12
                + (F.month("om") - F.month("cm"))
            )
            .cast("bigint")
            .alias("age_months"),
        )
        .agg(
            F.sum("n_o").cast("bigint").alias("n_orders"),
            F.sum("mrev").alias("rev"),
        )
    )
    wc = Window.partitionBy("cm").orderBy("age_months")
    return rev.join(F.broadcast(sizes), "cm").select(
        F.col("cm").alias("cohort_month"),
        "age_months",
        "n_orders",
        F.sum("rev").over(wc).cast("double").alias("cum_revenue"),
        (
            F.sum("rev").over(wc).cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("ltv_per_customer"),
    )
