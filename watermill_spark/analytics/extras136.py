"""Analytics batch 144: Benford first-digit audit, tabular CUSUM
mean-shift chart, and an EWMA control chart.

Benford is the classic forensic-accounting screen (do order totals'
leading digits follow log10(1+1/d)?); CUSUM and EWMA are the two
standard "small persistent shift" control charts that complement the
Shewhart-style charts already here (q_xmr_control_chart, q_p_chart):
CUSUM accumulates standardized deviations and alarms on the worst run,
EWMA exponentially discounts history with variance-growth-aware limits.

The CUSUM recursion S_t = max(0, S_{t-1} + x_t) is NOT run as a loop:
it is rewritten through the reflection identity
S_t = C_t − min_{0≤j≤t} C_j (with C the running sum of x and C_0 = 0),
which turns the whole chart into two prefix aggregations — a running
SUM and a running MIN — over the bounded day grid. The running sum is
taken over DECIMAL(38,15) casts so the cumulative values are exact and
independent of the aggregation tree either engine uses.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/window/quality-control families.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue

# Shared daily-revenue grid + 1-row exact moments (n, mu, sd), both
# engines computing sd from decimal-exact sums with the identical
# double-op expression (sxx - sx*sx/n)/(n-1).
_DAILY_SQL = f"""
    daily AS ({DAILY_REVENUE_SQL}),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS sxx
      FROM daily
    ),
    mm AS (
      SELECT n, sx / n AS mu,
             sqrt((sxx - sx * sx / n) / (n - 1.0)) AS sd
      FROM mom
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpointed once (r6): both consumers (cusum_mean_shift, ewma
    # chart) feed the day grid into _moments AND re-reference it
    # for the z/residual pass — 2 fact scans each; the calendar-bounded
    # day grid materializes once
    return daily_revenue(spark, sf_dir).localCheckpoint(eager=True)


def _moments(daily: DataFrame) -> DataFrame:
    mom = daily.agg(
        bcount("n"),
        F.sum(F.col("y").cast(D15)).cast("double").alias("sx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxx"),
    )
    return mom.select(
        "n",
        (F.col("sx") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1.0)
        ).alias("sd"),
    )


@register(
    "q_benford_law",
    oracle="""
    WITH digits AS (
      SELECT CAST(FLOOR(o_totalprice /
               CASE WHEN o_totalprice >= 1000000 THEN 1000000.0
                    WHEN o_totalprice >= 100000 THEN 100000.0
                    WHEN o_totalprice >= 10000 THEN 10000.0
                    WHEN o_totalprice >= 1000 THEN 1000.0
                    WHEN o_totalprice >= 100 THEN 100.0
                    WHEN o_totalprice >= 10 THEN 10.0
                    ELSE 1.0 END) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    cnts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cnts)
    SELECT c.digit, c.cnt,
           round(CAST(c.cnt AS DOUBLE) / t.n, 6) AS obs_share,
           round(ln(1.0 + 1.0 / c.digit) / ln(10.0), 6) AS benford_share,
           round(pow(c.cnt - t.n * (ln(1.0 + 1.0 / c.digit) / ln(10.0)), 2)
                 / (t.n * (ln(1.0 + 1.0 / c.digit) / ln(10.0))), 6)
             AS chi2_term
    FROM cnts c, tot t
    ORDER BY c.digit
    """,
)
def q_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals: the digit
    histogram vs the Benford expectation p_d = log10(1+1/d), with the
    per-digit Pearson chi-square contribution (O_d − n·p_d)²/(n·p_d) —
    the forensic screen for fabricated or systematically priced amounts.

    Determinism: the leading digit comes from a fixed CASE ladder of
    power-of-ten thresholds + one double division + floor (no libm log
    on data); ln() touches only the nine digit constants, identically
    on both engines; shares divide in double.

    Scale: one narrow map + 9-group aggregate; the 1-row total joined
    back to the 9 digit rows is a whitelisted 1-row broadcast. §2.B
    aggregation family [NS].
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    p = (
        F.when(F.col("o_totalprice") >= 1000000, 1000000.0)
        .when(F.col("o_totalprice") >= 100000, 100000.0)
        .when(F.col("o_totalprice") >= 10000, 10000.0)
        .when(F.col("o_totalprice") >= 1000, 1000.0)
        .when(F.col("o_totalprice") >= 100, 100.0)
        .when(F.col("o_totalprice") >= 10, 10.0)
        .otherwise(1.0)
    )
    cnts = (
        o.select(
            F.floor(F.col("o_totalprice") / p).cast("bigint").alias("digit")
        )
        .groupBy("digit")
        .agg(bcount("cnt"))
        # checkpointed once (r6): the total and the final select both
        # re-derived the ≤7-digit grid (2 orders scans in the plan)
        .localCheckpoint(eager=True)
    )
    tot = cnts.agg(F.sum("cnt").cast("bigint").alias("n"))
    pd_share = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return (
        cnts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n"), 6).alias(
                "obs_share"
            ),
            F.round(pd_share, 6).alias("benford_share"),
            F.round(
                F.pow(F.col("cnt") - F.col("n") * pd_share, 2)
                / (F.col("n") * pd_share),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@register(
    "q_cusum_mean_shift",
    oracle=f"""
    WITH {_DAILY_SQL},
    z AS (
      SELECT d, (y - m.mu) / m.sd AS z
      FROM daily, mm m
    ),
    c AS (
      SELECT d,
             CAST(SUM(CAST(z - 0.5 AS DECIMAL(38,15)))
                  OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cp,
             CAST(SUM(CAST(-z - 0.5 AS DECIMAL(38,15)))
                  OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cn
      FROM z
    ),
    s AS (
      SELECT d,
             cp - LEAST(0.0, MIN(cp) OVER (ORDER BY d ROWS UNBOUNDED
                                           PRECEDING)) AS sp,
             cn - LEAST(0.0, MIN(cn) OVER (ORDER BY d ROWS UNBOUNDED
                                           PRECEDING)) AS sn
      FROM c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN sp > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_up,
           CAST(SUM(CASE WHEN sn > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_down,
           MIN(CASE WHEN sp > 5.0 OR sn > 5.0 THEN d END)
             AS first_alarm,
           round(MAX(sp), 6) AS max_sp,
           round(MAX(sn), 6) AS max_sn
    FROM s
    """,
)
def q_cusum_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM (k=0.5, h=5) on standardized daily revenue: upper
    chart S⁺_t = max(0, S⁺_{t-1} + z_t − k), lower chart on −z_t, alarm
    when either exceeds h — the chart tuned to catch small persistent
    mean shifts that Shewhart limits miss. Reports alarm-day counts,
    the first alarm date, and the worst excursions.

    The max(0, ·) recursion is rewritten via the reflection identity
    S_t = C_t − min(0, min_{j≤t} C_j) with C the running sum of
    (z − k), so the whole chart is two window prefix aggregations —
    no sequential loop on either engine. Running sums accumulate over
    DECIMAL(38,15) casts, making the cumulative values exact and
    independent of each engine's window-aggregation tree.

    Determinism: moments (mu, sd) are 1-row decimal-exact aggregates
    broadcast onto the grid (whitelisted); all remaining math is
    fixed-order double ops on exact cumulative values.

    Scale: facts collapse to the ~2.4k-row day grid first; the ordered
    windows run on that bounded, SF-invariant grid. §2.B window/quality
    -control family [NS].
    """
    daily = _daily(spark, sf_dir)
    mm = _moments(daily)
    z = daily.crossJoin(F.broadcast(mm)).select(
        "d", ((F.col("y") - F.col("mu")) / F.col("sd")).alias("z")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = z.select(
        "d",
        F.sum((F.col("z") - 0.5).cast(D15)).over(w).cast("double").alias("cp"),
        F.sum((-F.col("z") - 0.5).cast(D15)).over(w).cast("double").alias("cn"),
    )
    s = c.select(
        "d",
        (F.col("cp") - F.least(F.lit(0.0), F.min("cp").over(w))).alias("sp"),
        (F.col("cn") - F.least(F.lit(0.0), F.min("cn").over(w))).alias("sn"),
    )
    return s.agg(
        bcount("n_days"),
        F.sum(F.when(F.col("sp") > 5.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_alarm_up"),
        F.sum(F.when(F.col("sn") > 5.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_alarm_down"),
        F.min(
            F.when((F.col("sp") > 5.0) | (F.col("sn") > 5.0), F.col("d"))
        ).alias("first_alarm"),
        F.round(F.max("sp"), 6).alias("max_sp"),
        F.round(F.max("sn"), 6).alias("max_sn"),
    )


@register(
    "q_ewma_chart",
    oracle=f"""
    WITH RECURSIVE {_DAILY_SQL},
    ord AS (
      SELECT d, y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
      FROM daily
    ),
    ew AS (
      SELECT CAST(0 AS BIGINT) AS rn, m.mu AS z, CAST(1.0 AS DOUBLE) AS q,
             m.mu AS mu, m.sd AS sd
      FROM mm m
      UNION ALL
      SELECT o.rn, 0.2 * o.y + 0.8 * e.z, e.q * 0.64, e.mu, e.sd
      FROM ew e JOIN ord o ON o.rn = e.rn + 1
    ),
    chart AS (
      SELECT e.rn, o.d, e.z, e.mu,
             3.0 * sqrt(e.sd * e.sd * (0.2 / 1.8) * (1.0 - e.q)) AS lim
      FROM ew e JOIN ord o ON o.rn = e.rn
      WHERE e.rn >= 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN abs(z - mu) > lim THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ooc,
           MIN(CASE WHEN abs(z - mu) > lim THEN d END) AS first_ooc,
           round(MAX(CASE WHEN rn = (SELECT MAX(rn) FROM chart)
                          THEN z END), 6) AS final_z,
           round(MAX(lim), 6) AS asymptotic_limit
    FROM chart
    """,
)
def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (λ=0.2, L=3) on daily revenue: z_t = λy_t +
    (1−λ)z_{t-1} started at the process mean, with time-varying limits
    mu ± L·sd·sqrt(λ/(2−λ)·(1−(1−λ)^{2t})) — the memory-bearing chart
    for small drifts, with exact variance growth in the ramp-up.

    The inherently sequential recursion follows the batch-136 recipe
    (`extras128.py`): facts collapse to the bounded day grid JVM-side,
    the O(#days) loop runs in ONE Arrow-batched applyInPandas over that
    aggregate, and DuckDB replays the identical IEEE ops via a
    recursive CTE — (1−λ)^{2t} is carried as an iteratively multiplied
    state variable on both sides, never a libm pow of a large exponent.

    Determinism: mu/sd are decimal-exact 1-row moments (broadcast,
    whitelisted) fed into both recursions; the update is the literal
    expression 0.2*y + 0.8*z in both engines.

    Scale: one distributed agg pass; the Python boundary sees O(#days)
    rows. §2.B window/quality-control family [NS].
    """
    daily = _daily(spark, sf_dir)
    mm = _moments(daily)
    grid = daily.crossJoin(F.broadcast(mm.select("mu", "sd")))

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        d = pdf["d"].tolist()
        mu = float(pdf["mu"].iloc[0])
        sd = float(pdf["sd"].iloc[0])
        z, q = mu, 1.0
        n_ooc, first_ooc, max_lim = 0, None, 0.0
        for t in range(len(y)):
            z = 0.2 * float(y[t]) + 0.8 * z
            q = q * 0.64
            lim = 3.0 * (sd * sd * (0.2 / 1.8) * (1.0 - q)) ** 0.5
            max_lim = max(max_lim, lim)
            if abs(z - mu) > lim:
                n_ooc += 1
                if first_ooc is None:
                    first_ooc = d[t]
        return pd.DataFrame(
            {
                "n_days": [len(y)],
                "n_ooc": [n_ooc],
                "first_ooc": [first_ooc],
                "final_z": [z],
                "asymptotic_limit": [max_lim],
            }
        )

    res = grid.groupBy(F.lit(1).alias("_g")).applyInPandas(
        ewma,
        "n_days long, n_ooc long, first_ooc date, final_z double,"
        " asymptotic_limit double",
    )
    return res.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_ooc").cast("bigint").alias("n_ooc"),
        "first_ooc",
        F.round("final_z", 6).alias("final_z"),
        F.round("asymptotic_limit", 6).alias("asymptotic_limit"),
    )
