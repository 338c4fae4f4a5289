"""Analytics batch 153: forecast accuracy metric panel, forecast-bias
tracking signal, and process sigma level.

The accuracy panel (MAPE / MdAPE / sMAPE / WAPE) is the scoreboard
every forecast review opens with — four metrics because each fails
differently (MAPE explodes near zero, sMAPE is bounded, WAPE is
volume-weighted, MdAPE is outlier-robust). The tracking signal is the
running-bias alarm (Σ error / MAD) that catches a forecast that has
drifted persistently optimistic or pessimistic even when its average
absolute error still looks fine. Sigma level is the Six-Sigma summary:
defect rate → Φ⁻¹ → process sigma, reusing the cross-engine Acklam
inverse normal (extras107).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .extras107 import phi_inv_col, phi_inv_sql
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue

# Seasonal-naive one-week-ahead forecast over the daily revenue grid:
# yhat_t = y_{t-7}, the standard zero-parameter baseline.
_FC_SQL = f"""
    daily AS ({DAILY_REVENUE_SQL}),
    fc AS (
      SELECT d, y,
             LAG(y, 7) OVER (ORDER BY d) AS yhat
      FROM daily
    ),
    scored AS (
      SELECT d, y, yhat, y - yhat AS e, abs(y - yhat) AS ae,
             abs(y - yhat) / abs(y) AS ape,
             2.0 * abs(y - yhat) / (abs(y) + abs(yhat)) AS sape
      FROM fc WHERE yhat IS NOT NULL AND y <> 0
    )
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpointed once (r6): consumers rank and aggregate the scored
    # series separately (2 lineitem scans per consumer plan); the
    # calendar-bounded day grid materializes once
    daily = daily_revenue(spark, sf_dir).localCheckpoint(eager=True)
    fc = daily.select(
        "d", "y", F.lag("y", 7).over(Window.orderBy("d")).alias("yhat")
    )
    return fc.filter(F.col("yhat").isNotNull() & (F.col("y") != 0)).select(
        "d",
        "y",
        "yhat",
        (F.col("y") - F.col("yhat")).alias("e"),
        F.abs(F.col("y") - F.col("yhat")).alias("ae"),
        (F.abs(F.col("y") - F.col("yhat")) / F.abs("y")).alias("ape"),
        (
            2.0
            * F.abs(F.col("y") - F.col("yhat"))
            / (F.abs("y") + F.abs("yhat"))
        ).alias("sape"),
    )


@register(
    "q_median_absolute_pct_error",
    oracle=f"""
    WITH {_FC_SQL},
    ranked AS (
      SELECT ape,
             CAST(ROW_NUMBER() OVER (ORDER BY ape, d) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM scored
    ),
    mdape AS (
      SELECT CAST(SUM(CAST(ape AS DECIMAL(38,15))) AS DOUBLE)
             / COUNT(*) AS v
      FROM ranked
      WHERE rn IN (CAST(FLOOR((n + 1) / 2.0) AS BIGINT),
                   CAST(FLOOR((n + 2) / 2.0) AS BIGINT))
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           round(CAST(SUM(CAST(ape AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*) * 100.0, 4) AS mape_pct,
           round((SELECT v FROM mdape) * 100.0, 4) AS mdape_pct,
           round(CAST(SUM(CAST(sape AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*) * 100.0, 4) AS smape_pct,
           round(CAST(SUM(CAST(ae AS DECIMAL(38,10))) AS DOUBLE)
                 / CAST(SUM(CAST(abs(y) AS DECIMAL(38,10))) AS DOUBLE)
                 * 100.0, 4) AS wape_pct
    FROM scored
    """,
)
def q_median_absolute_pct_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast accuracy panel for the seasonal-naive (y_{t-7}) daily
    revenue forecast: MAPE, MdAPE (exact median APE), sMAPE, and WAPE —
    the four standard percentage-error metrics reported together
    because each breaks differently (zero-denominators, outliers,
    asymmetry, volume weighting). Seasonal-naive is the baseline every
    real forecast must beat (q_theil_u_forecast's role, metric form).

    Determinism: the exact median selects the middle rank(s) via
    row_number with a date tiebreak; all means are decimal-exact sums
    over identical double inputs.

    Scale: one fact rollup to the day grid, one lag window, one
    aggregate; the median rank window runs on the bounded grid. §2.B
    window family [NS].
    """
    scored = _scored(spark, sf_dir)
    ranked = scored.select(
        "ape",
        F.row_number().over(Window.orderBy("ape", "d")).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    mdape = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2.0))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2.0))
    ).agg(
        (F.sum(F.col("ape").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "v"
        )
    )
    pm = scored.agg(
        bcount("n_forecasts"),
        (F.sum(F.col("ape").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "mape"
        ),
        (F.sum(F.col("sape").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "smape"
        ),
        (
            F.sum(F.col("ae").cast("decimal(38,10)")).cast("double")
            / F.sum(F.abs("y").cast("decimal(38,10)")).cast("double")
        ).alias("wape"),
    )
    return pm.crossJoin(F.broadcast(mdape)).select(
        "n_forecasts",
        F.round(F.col("mape") * 100.0, 4).alias("mape_pct"),
        F.round(F.col("v") * 100.0, 4).alias("mdape_pct"),
        F.round(F.col("smape") * 100.0, 4).alias("smape_pct"),
        F.round(F.col("wape") * 100.0, 4).alias("wape_pct"),
    )


@register(
    "q_forecast_bias_tracking_signal",
    oracle=f"""
    WITH {_FC_SQL},
    ts AS (
      SELECT d,
             CAST(SUM(CAST(e AS DECIMAL(38,10)))
                  OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cum_e,
             CAST(SUM(CAST(ae AS DECIMAL(38,10)))
                  OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS mad
      FROM scored
    ),
    sig AS (SELECT d, cum_e / mad AS tsig FROM ts)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN abs(tsig) > 4.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_breaches,
           MIN(CASE WHEN abs(tsig) > 4.0 THEN d END) AS first_breach,
           round(MAX(tsig), 6) AS max_signal,
           round(MIN(tsig), 6) AS min_signal
    FROM sig
    """,
)
def q_forecast_bias_tracking_signal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tracking signal for the seasonal-naive forecast: TS_t =
    (running Σ error) / (running mean |error|), with the classic
    |TS| > 4 alarm — the bias monitor that fires when a forecast is
    persistently high or low even while its absolute accuracy looks
    acceptable (the complement to the magnitude metrics in
    q_median_absolute_pct_error).

    Determinism: both running sums accumulate over DECIMAL(38,10)
    (window-tree independent); the ratio and threshold comparisons are
    fixed double ops.

    Scale: one lag window + two prefix windows on the bounded day
    grid. §2.B window family [NS].
    """
    scored = _scored(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    ts = scored.select(
        "d",
        F.sum(F.col("e").cast("decimal(38,10)")).over(w).cast("double").alias(
            "cum_e"
        ),
        (
            F.sum(F.col("ae").cast("decimal(38,10)")).over(w).cast("double")
            / F.row_number().over(Window.orderBy("d")).cast("double")
        ).alias("mad"),
    )
    sig = ts.select("d", (F.col("cum_e") / F.col("mad")).alias("tsig"))
    return sig.agg(
        bcount("n_days"),
        F.sum(F.when(F.abs("tsig") > 4.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_breaches"),
        F.min(F.when(F.abs("tsig") > 4.0, F.col("d"))).alias("first_breach"),
        F.round(F.max("tsig"), 6).alias("max_signal"),
        F.round(F.min("tsig"), 6).alias("min_signal"),
    )


@register(
    "q_process_sigma_level",
    oracle=f"""
    WITH perf AS (
      SELECT l.l_shipdate, o.o_orderdate,
             CASE WHEN CAST(l.l_shipdate AS DATE)
                       > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS defect
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    rate AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(defect) AS BIGINT) AS defects,
             CAST(SUM(defect) AS DOUBLE) / COUNT(*) AS p
      FROM perf
    )
    SELECT n AS n_opportunities, defects,
           round(p * 1000000.0, 2) AS dpmo,
           round({phi_inv_sql("1.0 - p")} + 1.5, 4) AS sigma_level,
           round({phi_inv_sql("1.0 - p")}, 4) AS sigma_level_lt
    FROM rate
    """,
)
def q_process_sigma_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-Sigma process capability of order fulfilment: a lineitem is
    defective if it ships more than 90 days after the order date;
    reports DPMO and the sigma level Φ⁻¹(1−p) + 1.5 (the conventional
    long-term shift) plus the unshifted short-term figure — the
    one-number process grade executives ask for, built on the same
    cross-engine Acklam Φ⁻¹ as q_shapiro_francia / q_safety_stock.

    Determinism: the defect flag is exact date arithmetic; p is integer
    counts divided in double; Φ⁻¹ is the fixed rational polynomial
    identical on both engines.

    Scale: one fact equi-join on the order key (co-partitioned at
    100 TB via bucketing) + one 1-row aggregate. §2.B aggregation
    family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    perf = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.when(
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 90),
            1,
        )
        .otherwise(0)
        .alias("defect")
    )
    rate = perf.agg(
        bcount("n"),
        F.sum("defect").cast("bigint").alias("defects"),
        (F.sum("defect").cast("double") / F.count(F.lit(1))).alias("p"),
    )
    z = phi_inv_col(1.0 - F.col("p"))
    return rate.select(
        F.col("n").alias("n_opportunities"),
        "defects",
        F.round(F.col("p") * 1000000.0, 2).alias("dpmo"),
        F.round(z + 1.5, 4).alias("sigma_level"),
        F.round(z, 4).alias("sigma_level_lt"),
    )
