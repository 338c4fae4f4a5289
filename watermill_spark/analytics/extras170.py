"""Analytics batch 178: two-component Gaussian-mixture EM, smoothed
spectral coherence, and a Yule-Walker AR(2) fit.

The GMM-EM is the workhorse unsupervised split ("is daily revenue one
regime or two?") run as four exact EM rounds of chained 1-row
aggregates — the iterative-ML family's (q_kmeans_lloyd,
q_logistic_newton) density-model member. Spectral coherence asks
whether clicks and purchases share their weekly rhythm (band-smoothed
over periods 6/7/8 — raw single-frequency coherence is identically 1)
and at what phase lag; Yule-Walker turns the ACF the correlogram
(q_acf_significance) displays into an actual AR(2) model with its
implied pseudo-period.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B regression/window families.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import C10, D15, bcount
from .registry import register
from .relations import (
    DAILY_CLICK_PURCHASE_SQL,
    DAILY_REVENUE_SQL,
    daily_click_purchase,
    daily_revenue,
)

_EM_ROUNDS = 4

# Band twiddle table for periods 6/7/8: identical double literals in
# both engines (the q_periodogram_peak recipe).
_BAND = [
    (p, k, math.cos(2.0 * math.pi * k / p), math.sin(2.0 * math.pi * k / p))
    for p in (6, 7, 8)
    for k in range(p)
]
_BAND_SQL = ", ".join(f"({p}, {k}, {c!r}, {s!r})" for p, k, c, s in _BAND)

_EM_STEP_SQL = """
      SELECT
        CAST(SUM(CAST(r AS DECIMAL(38,15))) AS DOUBLE)
          / COUNT(*) AS w,
        CAST(SUM(CAST(r * y AS DECIMAL(38,10))) AS DOUBLE)
          / CAST(SUM(CAST(r AS DECIMAL(38,15))) AS DOUBLE) AS mu1,
        sqrt(CAST(SUM(CAST(r * y * y AS DECIMAL(38,10))) AS DOUBLE)
             / CAST(SUM(CAST(r AS DECIMAL(38,15))) AS DOUBLE)
             - pow(CAST(SUM(CAST(r * y AS DECIMAL(38,10))) AS DOUBLE)
                   / CAST(SUM(CAST(r AS DECIMAL(38,15))) AS DOUBLE), 2))
          AS sd1,
        CAST(SUM(CAST((1.0 - r) * y AS DECIMAL(38,10))) AS DOUBLE)
          / CAST(SUM(CAST(1.0 - r AS DECIMAL(38,15))) AS DOUBLE) AS mu2,
        sqrt(CAST(SUM(CAST((1.0 - r) * y * y AS DECIMAL(38,10)))
                  AS DOUBLE)
             / CAST(SUM(CAST(1.0 - r AS DECIMAL(38,15))) AS DOUBLE)
             - pow(CAST(SUM(CAST((1.0 - r) * y AS DECIMAL(38,10)))
                        AS DOUBLE)
                   / CAST(SUM(CAST(1.0 - r AS DECIMAL(38,15)))
                          AS DOUBLE), 2)) AS sd2
      FROM (
        SELECT i.y,
               {prev}.w * exp(-pow(i.y - {prev}.mu1, 2)
                              / (2.0 * {prev}.sd1 * {prev}.sd1))
                 / {prev}.sd1
               / ({prev}.w * exp(-pow(i.y - {prev}.mu1, 2)
                                 / (2.0 * {prev}.sd1 * {prev}.sd1))
                    / {prev}.sd1
                  + (1.0 - {prev}.w)
                    * exp(-pow(i.y - {prev}.mu2, 2)
                          / (2.0 * {prev}.sd2 * {prev}.sd2))
                    / {prev}.sd2) AS r
        FROM idx i, {prev}
      )
"""


@register(
    "q_gaussian_mixture_em",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    idx AS (
      SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY y, d) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    init AS (
      SELECT lo.w, lo.mu1, lo.sd1, hi.mu2, hi.sd2 FROM
        (SELECT CAST(COUNT(*) AS DOUBLE) / MAX(n) AS w,
                CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE)
                  / COUNT(*) AS mu1,
                sqrt(CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE)
                     / COUNT(*)
                     - pow(CAST(SUM(CAST(y AS DECIMAL(38,15)))
                                AS DOUBLE) / COUNT(*), 2)) AS sd1
         FROM idx WHERE rn <= n / 2) lo,
        (SELECT CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE)
                  / COUNT(*) AS mu2,
                sqrt(CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE)
                     / COUNT(*)
                     - pow(CAST(SUM(CAST(y AS DECIMAL(38,15)))
                                AS DOUBLE) / COUNT(*), 2)) AS sd2
         FROM idx WHERE rn > n / 2) hi
    ),
    p0 AS (SELECT * FROM init),
    {",".join(f"p{k + 1} AS MATERIALIZED ({_EM_STEP_SQL.format(prev=f'p{k}')})" for k in range(_EM_ROUNDS))}
    SELECT round(w, 6) AS weight_1,
           round(mu1, 4) AS mu_1, round(sd1, 4) AS sd_1,
           round(mu2, 4) AS mu_2, round(sd2, 4) AS sd_2,
           round(abs(mu2 - mu1)
                 / sqrt((sd1 * sd1 + sd2 * sd2) / 2.0), 6)
             AS separation
    FROM p{_EM_ROUNDS}
    """,
)
def q_gaussian_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian mixture on daily revenue, 4 exact EM
    rounds: initialized by the median split, each round computes
    responsibilities r_i = w·φ₁/(w·φ₁+(1−w)·φ₂) against the previous
    1-row parameter vector and re-estimates (w, μ, σ) from
    decimal-exact r-weighted sums — "is revenue one regime or two?",
    with the standardized separation |μ₂−μ₁|/σ̄ as the verdict (the
    density-model member of the iterative-ML family: q_kmeans_lloyd,
    q_logistic_newton, q_cox_ph_newton).

    Determinism: the fixed round count runs identical IEEE ops on both
    engines (chained MATERIALIZED CTEs mirror the broadcast loop); all
    weighted sums route through DECIMAL; the 1/√2π constant cancels in
    the responsibilities and is omitted identically.

    Scale: each round is one aggregate over the bounded day grid with
    a 1-row parameter broadcast (whitelisted). §2.B regression family
    [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    idx = daily.select(
        "y",
        F.row_number().over(Window.orderBy("y", "d")).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    ).localCheckpoint(eager=True)

    def stats(df: DataFrame, mu: str, sd: str, with_w: bool) -> DataFrame:
        aggs = [
            (
                F.sum(F.col("y").cast(D15)).cast("double")
                / F.count(F.lit(1))
            ).alias(mu),
            F.sqrt(
                F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                - F.pow(
                    F.sum(F.col("y").cast(D15)).cast("double")
                    / F.count(F.lit(1)),
                    2,
                )
            ).alias(sd),
        ]
        if with_w:
            aggs.insert(
                0,
                (F.count(F.lit(1)).cast("double") / F.max("n")).alias("w"),
            )
        return df.agg(*aggs)

    lo = stats(idx.filter(F.col("rn") <= F.col("n") / 2), "mu1", "sd1", True)
    hi = stats(idx.filter(F.col("rn") > F.col("n") / 2), "mu2", "sd2", False)
    p = lo.crossJoin(F.broadcast(hi))
    for _ in range(_EM_ROUNDS):
        phi1 = (
            F.exp(
                -F.pow(F.col("y") - F.col("mu1"), 2)
                / (2.0 * F.col("sd1") * F.col("sd1"))
            )
            / F.col("sd1")
        )
        phi2 = (
            F.exp(
                -F.pow(F.col("y") - F.col("mu2"), 2)
                / (2.0 * F.col("sd2") * F.col("sd2"))
            )
            / F.col("sd2")
        )
        r = (F.col("w") * phi1) / (
            F.col("w") * phi1 + (1.0 - F.col("w")) * phi2
        )
        scored = idx.crossJoin(F.broadcast(p)).select(
            "y", r.alias("r")
        )
        sr = F.sum(F.col("r").cast(D15)).cast("double")
        sry = F.sum((F.col("r") * F.col("y")).cast("decimal(38,10)")).cast(
            "double"
        )
        sryy = F.sum(
            (F.col("r") * F.col("y") * F.col("y")).cast("decimal(38,10)")
        ).cast("double")
        s1r = F.sum((1.0 - F.col("r")).cast(D15)).cast("double")
        s1ry = F.sum(
            ((1.0 - F.col("r")) * F.col("y")).cast("decimal(38,10)")
        ).cast("double")
        s1ryy = F.sum(
            ((1.0 - F.col("r")) * F.col("y") * F.col("y")).cast(
                "decimal(38,10)"
            )
        ).cast("double")
        p = scored.agg(
            (sr / F.count(F.lit(1))).alias("w"),
            (sry / sr).alias("mu1"),
            F.sqrt(sryy / sr - F.pow(sry / sr, 2)).alias("sd1"),
            (s1ry / s1r).alias("mu2"),
            F.sqrt(s1ryy / s1r - F.pow(s1ry / s1r, 2)).alias("sd2"),
        )
    return p.select(
        F.round("w", 6).alias("weight_1"),
        F.round("mu1", 4).alias("mu_1"),
        F.round("sd1", 4).alias("sd_1"),
        F.round("mu2", 4).alias("mu_2"),
        F.round("sd2", 4).alias("sd_2"),
        F.round(
            F.abs(F.col("mu2") - F.col("mu1"))
            / F.sqrt(
                (F.col("sd1") * F.col("sd1") + F.col("sd2") * F.col("sd2"))
                / 2.0
            ),
            6,
        ).alias("separation"),
    )


@register(
    "q_spectral_coherence",
    oracle=f"""
    WITH daily AS ({DAILY_CLICK_PURCHASE_SQL}),
    idx AS (
      SELECT x, y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM daily
    ),
    mu AS (
      SELECT CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
               AS mx,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
               AS my
      FROM idx
    ),
    band(p, k, c, s) AS (VALUES {_BAND_SQL}),
    proj AS (
      SELECT b.p,
             CAST(SUM(CAST((i.x - m.mx) * b.c AS DECIMAL(38,10)))
                  AS DOUBLE) AS ax,
             CAST(SUM(CAST((i.x - m.mx) * b.s AS DECIMAL(38,10)))
                  AS DOUBLE) AS bx,
             CAST(SUM(CAST((i.y - m.my) * b.c AS DECIMAL(38,10)))
                  AS DOUBLE) AS ay,
             CAST(SUM(CAST((i.y - m.my) * b.s AS DECIMAL(38,10)))
                  AS DOUBLE) AS by
      FROM idx i, mu m
      JOIN band b ON b.k = i.t % b.p
      GROUP BY 1
    ),
    sm AS (
      SELECT CAST(SUM(CAST(ax * ax + bx * bx AS DECIMAL(38,10)))
                  AS DOUBLE) AS pxx,
             CAST(SUM(CAST(ay * ay + by * by AS DECIMAL(38,10)))
                  AS DOUBLE) AS pyy,
             CAST(SUM(CAST(ax * ay + bx * by AS DECIMAL(38,10)))
                  AS DOUBLE) AS co,
             CAST(SUM(CAST(bx * ay - ax * by AS DECIMAL(38,10)))
                  AS DOUBLE) AS qu
      FROM proj
    )
    SELECT round((co * co + qu * qu) / (pxx * pyy), 6)
             AS coherence_weekly,
           round(atan2(qu, co), 6) AS phase_rad,
           round(atan2(qu, co) / (2.0 * pi() / 7.0), 4) AS lag_days
    FROM sm
    """,
)
def q_spectral_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-smoothed spectral coherence between daily click and
    purchase value at the weekly rhythm: cos/sin projections at
    periods 6/7/8 (Daniell smoothing — raw single-frequency coherence
    is identically 1), coherence = (C̄²+Q̄²)/(P̄xx·P̄yy) plus the
    cross-spectrum phase converted to a lag in days — do the two
    series share the weekly cycle, and who leads inside the week
    (the frequency-domain complement to q_ccf_lead_lag's time-domain
    scan).

    Determinism: trig constants are the injected 21-row band table;
    projections and spectra accumulate through DECIMAL; atan2/π act on
    identical doubles.

    Scale: facts collapse to the day grid; the band table broadcast-
    joins on (t mod p); two bounded aggregates end it. §2.B window
    family [NS].
    """
    daily = daily_click_purchase(spark, sf_dir)
    idx = daily.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
    )
    mu = idx.agg(
        (F.sum(F.col("x").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "mx"
        ),
        (F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "my"
        ),
    )
    band = spark.createDataFrame(_BAND, "p long, k long, c double, s double")
    proj = (
        idx.crossJoin(F.broadcast(mu))
        .join(F.broadcast(band), F.col("k") == F.col("t") % F.col("p"))
        .groupBy("p")
        .agg(
            F.sum(((F.col("x") - F.col("mx")) * F.col("c")).cast(C10))
            .cast("double")
            .alias("ax"),
            F.sum(((F.col("x") - F.col("mx")) * F.col("s")).cast(C10))
            .cast("double")
            .alias("bx"),
            F.sum(((F.col("y") - F.col("my")) * F.col("c")).cast(C10))
            .cast("double")
            .alias("ay"),
            F.sum(((F.col("y") - F.col("my")) * F.col("s")).cast(C10))
            .cast("double")
            .alias("by"),
        )
    )
    sm = proj.agg(
        F.sum((F.col("ax") * F.col("ax") + F.col("bx") * F.col("bx")).cast(C10))
        .cast("double")
        .alias("pxx"),
        F.sum((F.col("ay") * F.col("ay") + F.col("by") * F.col("by")).cast(C10))
        .cast("double")
        .alias("pyy"),
        F.sum((F.col("ax") * F.col("ay") + F.col("bx") * F.col("by")).cast(C10))
        .cast("double")
        .alias("co"),
        F.sum((F.col("bx") * F.col("ay") - F.col("ax") * F.col("by")).cast(C10))
        .cast("double")
        .alias("qu"),
    )
    return sm.select(
        F.round(
            (F.col("co") * F.col("co") + F.col("qu") * F.col("qu"))
            / (F.col("pxx") * F.col("pyy")),
            6,
        ).alias("coherence_weekly"),
        F.round(F.atan2(F.col("qu"), F.col("co")), 6).alias("phase_rad"),
        F.round(
            F.atan2(F.col("qu"), F.col("co")) / (2.0 * math.pi / 7.0), 4
        ).alias("lag_days"),
    )


@register(
    "q_yule_walker_ar2",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    idx AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
      FROM daily
    ),
    mu AS (
      SELECT CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
               AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM idx
    ),
    e AS (SELECT i.rn, i.y - m.m AS e, m.n FROM idx i, mu m),
    g AS (
      SELECT CAST(l AS BIGINT) AS lag,
             CAST(SUM(CAST(a.e * b.e AS DECIMAL(38,10))) AS DOUBLE)
             / MAX(a.n) AS gl
      FROM (VALUES (0), (1), (2)) AS v(l)
      JOIN e a ON TRUE
      JOIN e b ON b.rn = a.rn - l
      GROUP BY 1
    ),
    r AS (
      SELECT MAX(CASE WHEN lag = 1 THEN gl END)
             / MAX(CASE WHEN lag = 0 THEN gl END) AS r1,
             MAX(CASE WHEN lag = 2 THEN gl END)
             / MAX(CASE WHEN lag = 0 THEN gl END) AS r2
      FROM g
    ),
    phi AS (
      SELECT r1, r2,
             r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
      FROM r
    )
    SELECT round(r1, 6) AS acf_1, round(r2, 6) AS acf_2,
           round(phi1, 6) AS phi_1, round(phi2, 6) AS phi_2,
           round(1.0 - phi1 * r1 - phi2 * r2, 6)
             AS innovation_var_ratio,
           round(CASE WHEN phi2 < 0
                      AND phi1 * phi1 + 4.0 * phi2 < 0
                 THEN 2.0 * pi()
                      / acos(phi1 / (2.0 * sqrt(-phi2))) END, 4)
             AS pseudo_period_days
    FROM phi
    """,
)
def q_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit to daily revenue: φ₁, φ₂ solved in closed
    form from the lag-1/2 autocorrelations, the innovation-variance
    ratio 1−φ₁r₁−φ₂r₂ (how much of the variance the model absorbs),
    and — when the characteristic roots are complex — the implied
    pseudo-period 2π/arccos(φ₁/2√(−φ₂)), i.e. the cycle length the
    AR dynamics themselves generate. Turns q_acf_significance's
    correlogram into an actual model.

    Determinism: autocovariances are decimal-exact over integer lag
    joins; the closed forms are fixed double expressions; the complex-
    root guard compares identical doubles (NULL period when real).

    Scale: facts collapse to the day grid; the 3-row lag dimension
    joins once; everything after reads 3 rows. §2.B regression family
    [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    idx = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn")
    )
    mu = idx.agg(
        (F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "m"
        ),
        bcount("n"),
    )
    e = idx.crossJoin(F.broadcast(mu)).select(
        "rn", (F.col("y") - F.col("m")).alias("e"), "n"
    ).localCheckpoint(eager=True)
    lags = spark.createDataFrame([(0,), (1,), (2,)], "lag long")
    b = e.select(F.col("rn").alias("rnb"), F.col("e").alias("eb"))
    g = (
        e.crossJoin(F.broadcast(lags))
        .join(b, F.col("rnb") == F.col("rn") - F.col("lag"))
        .groupBy("lag")
        .agg(
            (
                F.sum((F.col("e") * F.col("eb")).cast("decimal(38,10)")).cast(
                    "double"
                )
                / F.max("n")
            ).alias("gl")
        )
    )
    r = g.agg(
        (
            F.max(F.when(F.col("lag") == 1, F.col("gl")))
            / F.max(F.when(F.col("lag") == 0, F.col("gl")))
        ).alias("r1"),
        (
            F.max(F.when(F.col("lag") == 2, F.col("gl")))
            / F.max(F.when(F.col("lag") == 0, F.col("gl")))
        ).alias("r2"),
    )
    phi = r.select(
        "r1",
        "r2",
        (F.col("r1") * (1.0 - F.col("r2")) / (1.0 - F.col("r1") * F.col("r1"))).alias(
            "phi1"
        ),
        (
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (1.0 - F.col("r1") * F.col("r1"))
        ).alias("phi2"),
    )
    period = F.when(
        (F.col("phi2") < 0)
        & (F.col("phi1") * F.col("phi1") + 4.0 * F.col("phi2") < 0),
        2.0
        * math.pi
        / F.acos(F.col("phi1") / (2.0 * F.sqrt(-F.col("phi2")))),
    )
    return phi.select(
        F.round("r1", 6).alias("acf_1"),
        F.round("r2", 6).alias("acf_2"),
        F.round("phi1", 6).alias("phi_1"),
        F.round("phi2", 6).alias("phi_2"),
        F.round(
            1.0 - F.col("phi1") * F.col("r1") - F.col("phi2") * F.col("r2"), 6
        ).alias("innovation_var_ratio"),
        F.round(period, 4).alias("pseudo_period_days"),
    )
