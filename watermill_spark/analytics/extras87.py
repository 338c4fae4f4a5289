"""Analytics batch 95: runs-up-and-down randomness test on daily revenue
increments, the Fano factor burstiness curve across window sizes, and
empirical prediction-interval coverage backtesting for the naive
forecaster.

The Fano curve (variance/mean of counts at 10min/1h/6h windows) is the
*temporal* variance-scaling profile — flat at 1 for a Poisson stream,
rising with window size under burst clustering — the time-domain sibling
of q_taylors_law's cross-sectional exponent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .relations import DAILY_ORDER_REVENUE_SQL, daily_order_revenue


@register(
    "q_runs_up_down",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders GROUP BY 1
    ),
    dirs AS (
      SELECT d,
             CASE WHEN rev > LAG(rev) OVER (ORDER BY d) THEN 1
                  WHEN rev < LAG(rev) OVER (ORDER BY d) THEN -1 END AS s
      FROM daily
    ),
    clean AS (SELECT d, s FROM dirs WHERE s IS NOT NULL),
    runs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(1 + SUM(CASE WHEN s <> prev_s THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_runs
      FROM (SELECT s, LAG(s) OVER (ORDER BY d) AS prev_s FROM clean) x
      WHERE prev_s IS NOT NULL
    )
    SELECT n + 1 AS n_increments,
           n_runs,
           round((2.0 * (n + 1) - 1) / 3, 4) AS expected_runs,
           round((CAST(n_runs AS DOUBLE) - (2.0 * (n + 1) - 1) / 3)
                 / sqrt((16.0 * (n + 1) - 29) / 90), 6) AS z_stat,
           CASE WHEN abs((CAST(n_runs AS DOUBLE) - (2.0 * (n + 1) - 1) / 3)
                 / sqrt((16.0 * (n + 1) - 29) / 90)) > 1.959964
                THEN 'nonrandom' ELSE 'random_like' END AS verdict
    FROM runs
    """,
)
def q_runs_up_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs-up-and-down test on daily revenue increments: count maximal
    monotone runs in the up/down sign sequence and compare against the
    i.i.d. expectation (2n−1)/3 with variance (16n−29)/90 — the
    difference-sign randomness test that catches oscillation (too many
    runs) and momentum (too few), complementing q_runs_test (runs about
    the median — a *level* test; this is a *change* test).

    Determinism: signs compare exact decimals; run counts are integers;
    the z uses fixed-shape algebra.

    Scale: two ordered windows over the calendar-bounded grid. §2.B
    [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev")
    )
    w = Window.orderBy("d")
    dirs = daily.select(
        "d",
        F.when(F.col("rev") > F.lag("rev").over(w), 1)
        .when(F.col("rev") < F.lag("rev").over(w), -1)
        .alias("s"),
    ).filter(F.col("s").isNotNull())
    runs = (
        dirs.select("s", F.lag("s").over(Window.orderBy("d")).alias("prev_s"))
        .filter(F.col("prev_s").isNotNull())
        .agg(
            bcount("n"),
            (
                1
                + F.sum(
                    F.when(F.col("s") != F.col("prev_s"), 1).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("n_runs"),
        )
    )
    n1 = F.col("n") + 1
    exp_runs = (2.0 * n1 - 1) / 3
    z = (F.col("n_runs").cast("double") - exp_runs) / F.sqrt(
        (16.0 * n1 - 29) / 90
    )
    return runs.select(
        n1.alias("n_increments"),
        "n_runs",
        F.round(exp_runs, 4).alias("expected_runs"),
        F.round(z, 6).alias("z_stat"),
        F.when(F.abs(z) > 1.959964, "nonrandom")
        .otherwise("random_like")
        .alias("verdict"),
    )


_FANO_WINDOWS = (600, 3600, 21600)  # seconds


@register(
    "q_fano_factor",
    oracle=f"""
    WITH pts AS (SELECT epoch_us(ts) // 1000000 AS t FROM events),
    ws AS (SELECT UNNEST(ARRAY{list(_FANO_WINDOWS)}) AS w),
    counts AS (
      SELECT w.w, pts.t // w.w AS bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM pts, ws w GROUP BY w.w, pts.t // w.w
    ),
    mom AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM counts GROUP BY w
    )
    SELECT CAST(w AS BIGINT) AS window_s, n_buckets,
           round(CAST(s1 AS DOUBLE) / n_buckets, 4) AS mean_count,
           round((CAST(s2 AS DOUBLE) / n_buckets
                  - (CAST(s1 AS DOUBLE) / n_buckets)
                    * (CAST(s1 AS DOUBLE) / n_buckets))
                 / (CAST(s1 AS DOUBLE) / n_buckets), 4) AS fano_factor
    FROM mom
    ORDER BY window_s
    """,
)
def q_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor curve of the event stream: variance/mean of occupied
    bucket counts at 10-minute, 1-hour, and 6-hour windows — flat at ≈1
    means Poisson at every timescale, a rising curve means bursts
    cluster at that scale (the time-domain profile whose cross-sectional
    twin is q_taylors_law and whose single-number summaries are
    q_overdispersion / q_burstiness_coefficient); the curve picks the
    watermark/trigger granularity where arrivals stop being bursty.

    All moments exact integers; Fano ratios are fixed-shape.

    Scale: one pass per window size fused into a single grouped
    aggregation over the (window, bucket) key — map-side combined.
    §2.B streaming surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        F.floor(F.unix_micros("ts") / 1000000).cast("bigint").alias("t")
    )
    ws = spark.range(len(_FANO_WINDOWS)).select(
        F.element_at(
            F.array(*[F.lit(w) for w in _FANO_WINDOWS]),
            (F.col("id") + 1).cast("int"),
        )
        .cast("bigint")
        .alias("w")
    )
    counts = (
        pts.crossJoin(F.broadcast(ws))
        .groupBy("w", F.floor(F.col("t") / F.col("w")).alias("bucket"))
        .agg(bcount("c"))
    )
    mom = counts.groupBy("w").agg(
        bcount("n_buckets"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    mean_c = F.col("s1").cast("double") / F.col("n_buckets")
    fano = (F.col("s2").cast("double") / F.col("n_buckets") - mean_c * mean_c) / mean_c
    return mom.select(
        F.col("w").cast("bigint").alias("window_s"),
        "n_buckets",
        F.round(mean_c, 4).alias("mean_count"),
        F.round(fano, 4).alias("fano_factor"),
    ).orderBy("window_s")


@register(
    "q_forecast_interval_coverage",
    oracle=f"""
    WITH daily AS ({DAILY_ORDER_REVENUE_SQL}),
    resid AS (
      SELECT d, rev - LAG(rev) OVER (ORDER BY d) AS e,
             CAST(year(d) AS BIGINT) AS yr
      FROM daily
    ),
    train AS (
      SELECT e FROM resid WHERE e IS NOT NULL AND yr <= 1995
    ),
    qs AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN e END)
               AS q05,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN e END)
               AS q95
      FROM (SELECT e, ROW_NUMBER() OVER (ORDER BY e) AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM train) x
    ),
    test AS (
      SELECT e FROM resid WHERE e IS NOT NULL AND yr > 1995
    ),
    cov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(COUNT(*) FILTER (WHERE t.e BETWEEN q.q05 AND q.q95)
                  AS BIGINT) AS n_covered
      FROM test t, qs q
    )
    SELECT n_test, n_covered,
           round((SELECT q05 FROM qs), 2) AS interval_lo,
           round((SELECT q95 FROM qs), 2) AS interval_hi,
           round(CAST(n_covered AS DOUBLE) / n_test, 6) AS coverage,
           CASE WHEN abs(CAST(n_covered AS DOUBLE) / n_test - 0.9) <= 0.05
                THEN 'calibrated' ELSE 'miscalibrated' END AS verdict
    FROM cov
    """,
)
def q_forecast_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction-interval coverage backtest for the naive forecaster:
    build the 90% interval from the empirical 5th/95th percentiles of
    pre-1996 one-step errors, then measure how often post-1995 errors
    fall inside — the probabilistic-forecast evaluation (are the error
    bars honest?) that q_forecast_accuracy's point metrics ignore; a
    coverage far from 90% means the interval method (not the point
    forecast) is broken.

    Determinism: interval bounds are exact rank statistics of
    exact-decimal-derived errors; coverage counts are integer
    comparisons.

    Scale: one lag window, one train-period sort, one 1-row coverage
    count. §2.B [NS].
    """
    daily = daily_order_revenue(spark, sf_dir)
    resid = daily.select(
        "d",
        (F.col("rev") - F.lag("rev").over(Window.orderBy("d"))).alias("e"),
        F.year("d").cast("bigint").alias("yr"),
    ).filter(F.col("e").isNotNull())
    train = resid.filter(F.col("yr") <= 1995)
    ranked = train.select(
        "e",
        F.row_number().over(Window.orderBy("e")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    qs = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.05 * F.col("n")).cast("bigint"), F.col("e")
            )
        ).alias("q05"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.95 * F.col("n")).cast("bigint"), F.col("e")
            )
        ).alias("q95"),
    )
    test = resid.filter(F.col("yr") > 1995)
    cov = test.crossJoin(F.broadcast(qs)).agg(
        bcount("n_test"),
        F.count_if(
            F.col("e").between(F.col("q05"), F.col("q95"))
        )
        .cast("bigint")
        .alias("n_covered"),
        F.max("q05").alias("q05"),
        F.max("q95").alias("q95"),
    )
    coverage = F.col("n_covered").cast("double") / F.col("n_test")
    return cov.select(
        "n_test",
        "n_covered",
        F.round("q05", 2).alias("interval_lo"),
        F.round("q95", 2).alias("interval_hi"),
        F.round(coverage, 6).alias("coverage"),
        F.when(F.abs(coverage - 0.9) <= 0.05, "calibrated")
        .otherwise("miscalibrated")
        .alias("verdict"),
    )
