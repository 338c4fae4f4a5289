"""Analytics batch 177: expected shortfall, harmonic (cosinor)
regression, and drawdown-duration profile.

Expected shortfall is the coherent tail-risk measure that replaced VaR
in Basel — the MEAN of the tail, not its edge (q_var_historical /
q_var_backtest report the edge; regulators now ask for this). The
cosinor fit extracts the weekly cycle's amplitude AND phase as one
closed-form regression against injected sin/cos constants — the
parametric sibling of q_periodogram_peak (which localizes the period;
this quantifies the cycle at a KNOWN period). Drawdown duration
completes the drawdown family (q_max_drawdown = depth, q_ulcer_index =
depth×time pain, this = spell lengths).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/regression families.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import register
from .relations import DAILY_REVENUE_SQL, daily_revenue

# Injected weekly harmonic constants: sin/cos(2π k/7) for k = 0..6 (the
# q_periodogram_peak twiddle recipe — no libm trig on data).
_HARM = [
    (k, math.sin(2.0 * math.pi * k / 7), math.cos(2.0 * math.pi * k / 7))
    for k in range(7)
]
_HARM_SQL = ", ".join(f"({k}, {s!r}, {c!r})" for k, s, c in _HARM)


@register(
    "q_expected_shortfall",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    chg AS (
      SELECT d, y - LAG(y) OVER (ORDER BY d) AS dy FROM daily
    ),
    moves AS (SELECT d, dy FROM chg WHERE dy IS NOT NULL),
    ranked AS (
      SELECT dy,
             CAST(ROW_NUMBER() OVER (ORDER BY dy, d) AS BIGINT) AS r,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM moves
    ),
    var95 AS (
      SELECT dy AS v FROM ranked
      WHERE r = CAST(FLOOR(0.05 * n) AS BIGINT)
    )
    SELECT MAX(n) AS n_moves,
           round((SELECT v FROM var95), 4) AS var_95,
           round(CAST(SUM(CASE WHEN dy <= (SELECT v FROM var95)
                    THEN CAST(dy AS DECIMAL(38,10)) END) AS DOUBLE)
                 / SUM(CASE WHEN dy <= (SELECT v FROM var95)
                       THEN 1 ELSE 0 END), 4) AS es_95,
           CAST(SUM(CASE WHEN dy <= (SELECT v FROM var95)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
           round(CAST(SUM(CASE WHEN dy <= (SELECT v FROM var95)
                    THEN CAST(dy AS DECIMAL(38,10)) END) AS DOUBLE)
                 / SUM(CASE WHEN dy <= (SELECT v FROM var95)
                       THEN 1 ELSE 0 END)
                 / (SELECT v FROM var95), 6) AS es_to_var_ratio
    FROM ranked
    """,
)
def q_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR) at 95% on day-over-day revenue moves:
    VaR is the exact 5th-percentile move (rank-selected); ES is the
    decimal-exact mean of all moves at or beyond it — the coherent
    tail measure that prices the WHOLE tail instead of its edge
    (Basel's replacement for VaR; q_var_historical / q_var_backtest
    report and validate the edge, this completes the pair).

    Determinism: the quantile is an exact rank selection with date
    tiebreaks; the tail mean is a decimal-exact conditional sum.

    Scale: one lag window on the bounded day grid + a 1-row VaR
    broadcast (whitelisted) for the tail pass. §2.B window/risk family
    [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    moves = daily.select(
        "d", (F.col("y") - F.lag("y").over(Window.orderBy("d"))).alias("dy")
    ).filter(F.col("dy").isNotNull())
    ranked = moves.select(
        "dy",
        F.row_number().over(Window.orderBy("dy", "d")).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    var95 = ranked.filter(
        F.col("r") == F.floor(0.05 * F.col("n")).cast("bigint")
    ).select(F.col("dy").alias("v"))
    tail = F.col("dy") <= F.col("v")
    es = F.sum(
        F.when(tail, F.col("dy").cast("decimal(38,10)"))
    ).cast("double") / F.sum(F.when(tail, 1).otherwise(0))
    return (
        ranked.crossJoin(F.broadcast(var95))
        .agg(
            F.max("n").alias("n_moves"),
            F.round(F.max("v"), 4).alias("var_95"),
            F.round(es, 4).alias("es_95"),
            F.sum(F.when(tail, 1).otherwise(0)).cast("bigint").alias("n_tail"),
            F.round(es / F.max("v"), 6).alias("es_to_var_ratio"),
        )
        .select("n_moves", "var_95", "es_95", "n_tail", "es_to_var_ratio")
    )


@register(
    "q_harmonic_regression",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    idx AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM daily
    ),
    harm(k, s, c) AS (VALUES {_HARM_SQL}),
    pts AS (
      SELECT i.y, h.s AS u, h.c AS v
      FROM idx i JOIN harm h ON h.k = i.t % 7
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(u AS DECIMAL(38,15))) AS DOUBLE) AS su,
             CAST(SUM(CAST(v AS DECIMAL(38,15))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(u * u AS DECIMAL(38,15))) AS DOUBLE) AS suu,
             CAST(SUM(CAST(v * v AS DECIMAL(38,15))) AS DOUBLE) AS svv,
             CAST(SUM(CAST(u * v AS DECIMAL(38,15))) AS DOUBLE) AS suv,
             CAST(SUM(CAST(u * y AS DECIMAL(38,10))) AS DOUBLE) AS suy,
             CAST(SUM(CAST(v * y AS DECIMAL(38,10))) AS DOUBLE) AS svy,
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
      FROM pts
    ),
    fit AS (
      SELECT n, sy, syy,
             (n * (suy * svv - suv * svy)
              - sy * (su * svv - suv * sv)
              + sv * (su * svy - suy * sv))
             / (n * (suu * svv - suv * suv)
                - su * (su * svv - suv * sv)
                + sv * (su * suv - suu * sv)) AS bs,
             (n * (suu * svy - suy * suv)
              - su * (su * svy - suy * sv)
              + sy * (su * suv - suu * sv))
             / (n * (suu * svv - suv * suv)
                - su * (su * svv - suv * sv)
                + sv * (su * suv - suu * sv)) AS bc,
             (sy * (suu * svv - suv * suv)
              - su * (suy * svv - suv * svy)
              + sv * (suy * suv - suu * svy))
             / (n * (suu * svv - suv * suv)
                - su * (su * svv - suv * sv)
                + sv * (su * suv - suu * sv)) AS a
      FROM m
    ),
    ss AS (
      SELECT f.n, f.bs, f.bc,
             CAST(SUM(CAST(pow(p.y - f.a - f.bs * p.u - f.bc * p.v, 2)
                           AS DECIMAL(38,10))) AS DOUBLE) AS sse,
             MAX(f.syy - f.sy * f.sy / f.n) AS sst
      FROM pts p, fit f GROUP BY 1, 2, 3
    )
    SELECT n AS n_days,
           round(bs, 4) AS b_sin,
           round(bc, 4) AS b_cos,
           round(sqrt(bs * bs + bc * bc), 4) AS amplitude,
           round(atan2(bs, bc) / (2.0 * pi()) * 7.0, 4) AS phase_days,
           round(1.0 - sse / sst, 6) AS r2
    FROM ss
    """,
)
def q_harmonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosinor (harmonic) regression of daily revenue on the weekly
    cycle: y ~ a + b_s·sin(2πt/7) + b_c·cos(2πt/7) with sin/cos taken
    from a 7-row Python-injected constant table (no libm trig on
    data), solved by 3×3 Cramer determinants — amplitude √(b_s²+b_c²),
    peak phase in days, and the cycle's R² — quantifying the cycle
    q_periodogram_peak localizes and q_dow_effect_ols tabulates, in
    two parameters instead of six dummies.

    Determinism: harmonic constants are identical double literals; all
    moments are decimal-exact; atan2/π evaluate on identical doubles
    rounded at 4.

    Scale: facts collapse to the day grid; the 7-row harmonic table
    broadcast-joins on t mod 7; one moment aggregate + a 1-row fit
    broadcast for the SSE pass (whitelisted). §2.B regression family
    [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    idx = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t")
    )
    harm = spark.createDataFrame(_HARM, "k long, s double, c double")
    pts = idx.join(
        F.broadcast(harm), F.col("k") == F.col("t") % 7
    ).select("y", F.col("s").alias("u"), F.col("c").alias("v"))
    cd = lambda e, t="decimal(38,10)": F.sum(e.cast(t)).cast("double")  # noqa: E731
    u, v, y = F.col("u"), F.col("v"), F.col("y")
    m = pts.agg(
        bcount("n"),
        cd(u, D15).alias("su"),
        cd(v, D15).alias("sv"),
        cd(y, D15).alias("sy"),
        cd(u * u, D15).alias("suu"),
        cd(v * v, D15).alias("svv"),
        cd(u * v, D15).alias("suv"),
        cd(u * y).alias("suy"),
        cd(v * y).alias("svy"),
        cd(y * y).alias("syy"),
    )
    n, su, sv, sy = (F.col(x) for x in ("n", "su", "sv", "sy"))
    suu, svv, suv, suy, svy = (
        F.col(x) for x in ("suu", "svv", "suv", "suy", "svy")
    )
    dg = (
        n * (suu * svv - suv * suv)
        - su * (su * svv - suv * sv)
        + sv * (su * suv - suu * sv)
    )
    fit = m.select(
        "n",
        "sy",
        "syy",
        (
            (
                n * (suy * svv - suv * svy)
                - sy * (su * svv - suv * sv)
                + sv * (su * svy - suy * sv)
            )
            / dg
        ).alias("bs"),
        (
            (
                n * (suu * svy - suy * suv)
                - su * (su * svy - suy * sv)
                + sy * (su * suv - suu * sv)
            )
            / dg
        ).alias("bc"),
        (
            (
                sy * (suu * svv - suv * suv)
                - su * (suy * svv - suv * svy)
                + sv * (suy * suv - suu * svy)
            )
            / dg
        ).alias("a"),
    )
    resid = (
        F.col("y") - F.col("a") - F.col("bs") * F.col("u")
        - F.col("bc") * F.col("v")
    )
    ss = (
        pts.crossJoin(F.broadcast(fit))
        .groupBy("n", "bs", "bc")
        .agg(
            F.sum(F.pow(resid, 2).cast("decimal(38,10)"))
            .cast("double")
            .alias("sse"),
            F.max(
                F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
            ).alias("sst"),
        )
    )
    return ss.select(
        F.col("n").alias("n_days"),
        F.round("bs", 4).alias("b_sin"),
        F.round("bc", 4).alias("b_cos"),
        F.round(
            F.sqrt(F.col("bs") * F.col("bs") + F.col("bc") * F.col("bc")), 4
        ).alias("amplitude"),
        F.round(
            F.atan2(F.col("bs"), F.col("bc")) / (2.0 * math.pi) * 7.0, 4
        ).alias("phase_days"),
        F.round(1.0 - F.col("sse") / F.col("sst"), 6).alias("r2"),
    )


@register(
    "q_drawdown_duration",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    flagged AS (
      SELECT d,
             CASE WHEN y < MAX(y) OVER (ORDER BY d
                  ROWS UNBOUNDED PRECEDING) THEN 1 ELSE 0 END AS below
      FROM daily
    ),
    runs AS (
      SELECT d, below,
             CAST(SUM(1 - below) OVER (ORDER BY d
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      FROM flagged
    ),
    spells AS (
      SELECT run_id,
             CAST(COUNT(*) AS BIGINT) AS len,
             MIN(d) AS spell_start
      FROM runs WHERE below = 1 GROUP BY 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_spells,
           CAST(MAX(len) AS BIGINT) AS max_spell_days,
           round(CAST(SUM(CAST(len AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_spell_days,
           MIN(CASE WHEN len = (SELECT MAX(len) FROM spells)
                    THEN spell_start END) AS longest_spell_start
    FROM spells
    """,
)
def q_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown-duration profile of daily revenue: consecutive
    below-running-peak days group into spells via the gaps-and-islands
    prefix trick (run id = cumulative count of at-peak days); reports
    spell count, the longest and average spell lengths, and when the
    longest began — the TIME dimension of drawdown risk
    (q_max_drawdown prices the depth, q_ulcer_index depth×time, this
    answers "how long were we underwater?").

    Determinism: the running max and run ids are exact; spell stats
    are integer counts with MIN-date tie resolution.

    Scale: two prefix windows + one rollup on the bounded day grid.
    §2.B window family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    flagged = daily.select(
        "d",
        F.when(F.col("y") < F.max("y").over(w), 1).otherwise(0).alias("below"),
    )
    runs = flagged.select(
        "d",
        "below",
        F.sum(1 - F.col("below")).over(w).cast("bigint").alias("run_id"),
    )
    spells = (
        runs.filter(F.col("below") == 1)
        .groupBy("run_id")
        .agg(bcount("len"), F.min("d").alias("spell_start"))
    )
    nd = daily.agg(bcount("n_days"))
    wall = Window.partitionBy()
    return (
        spells.withColumn("mx", F.max("len").over(wall))
        .agg(
            bcount("n_spells"),
            F.max("len").cast("bigint").alias("max_spell_days"),
            F.round(
                F.sum(F.col("len").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_spell_days"),
            F.min(
                F.when(F.col("len") == F.col("mx"), F.col("spell_start"))
            ).alias("longest_spell_start"),
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "n_days",
            "n_spells",
            "max_spell_days",
            "avg_spell_days",
            "longest_spell_start",
        )
    )
