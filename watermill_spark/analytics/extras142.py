"""Analytics batch 150: periodogram period scan, recurrence
quantification, and beta-binomial empirical-Bayes shrinkage.

The periodogram scan localizes the dominant cycle length directly (the
frequency-domain complement to q_hourly_autocorr / q_seasonal_strength
/ q_spectral_entropy, which summarize rather than localize); recurrence
rate + determinism are the RQA pair that distinguishes structured
dynamics from noise; beta-binomial shrinkage is the classic
"batting average" estimator — per-part return rates pulled toward the
fleet prior in proportion to their evidence (the conjugate companion
to q_james_stein, which shrinks Gaussian means).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation/statistics families.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue

_DAILY_SQL = f"""
    daily AS ({DAILY_REVENUE_SQL}),
    idx AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS t
      FROM daily
    ),
    mu AS (
      SELECT CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM idx
    )
"""


def _idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(spark, sf_dir)
    return daily.select(
        "y", F.row_number().over(Window.orderBy("d")).cast("double").alias("t")
    )


# Twiddle-factor table: cos/sin(2π k/p) for p=2..30, k=0..p-1, computed
# ONCE in Python and injected as literals into BOTH engines — cos(2π t/p)
# depends only on t mod p, and Java's Math.cos and C libm disagree by an
# ulp on some inputs, which the squared projections amplify past the
# rounding guard. Python repr round-trips doubles exactly, so both
# engines parse bit-identical constants. (The same trick real FFTs use.)
_TWIDDLE = [
    (p, k, math.cos(2.0 * math.pi * k / p), math.sin(2.0 * math.pi * k / p))
    for p in range(2, 31)
    for k in range(p)
]
_TWIDDLE_SQL = ", ".join(
    f"({p}, {k}, {c!r}, {s!r})" for p, k, c, s in _TWIDDLE
)


@register(
    "q_periodogram_peak",
    oracle=f"""
    WITH {_DAILY_SQL},
    twiddle(period, k, c, s) AS (VALUES {_TWIDDLE_SQL}),
    terms AS (
      SELECT CAST(w.period AS BIGINT) AS period,
             CAST(SUM(CAST((i.y - m.m) * w.c AS DECIMAL(38,10)))
                  AS DOUBLE) AS cr,
             CAST(SUM(CAST((i.y - m.m) * w.s AS DECIMAL(38,10)))
                  AS DOUBLE) AS ci,
             MAX(m.n) AS n
      FROM idx i, mu m
      JOIN twiddle w ON w.k = CAST(i.t AS BIGINT) % w.period
      GROUP BY 1
    ),
    pw AS (
      SELECT period, (cr * cr + ci * ci) * 2.0 / n AS power FROM terms
    )
    SELECT period,
           round(10.0 * ln(power) / ln(10.0), 6) AS power_db,
           CAST(power = (SELECT MAX(power) FROM pw) AS BOOLEAN) AS is_peak
    FROM pw ORDER BY period
    """,
)
def q_periodogram_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram of demeaned daily revenue over candidate
    periods 2..30 days: I(p) = (2/n)·[(Σy'cos ω_p t)² + (Σy'sin ω_p t)²]
    with ω_p = 2π/p, flagging the peak period — reads the weekly cycle
    straight off instead of inferring it from autocorrelation summaries.

    Determinism: cos/sin(2πk/p) come from a 464-row twiddle table
    computed once in Python and injected as identical double literals
    into both engines (cos(2πt/p) depends only on t mod p) — no libm
    trig runs on either side, eliminating the Java-vs-C one-ulp gap
    that the squared projections would amplify; projections accumulate
    through DECIMAL(38,10); the peak flag compares unrounded powers.

    Scale: facts collapse to the day grid; the 464-row twiddle table
    broadcast-joins the grid on (t mod p) (whitelisted 1-row/dim
    broadcasts) for a 29×days bounded expansion; one groupBy ends it.
    §2.B window family [NS].
    """
    # checkpointed once (r6): the bounded day grid feeds the demeaning
    # moments and the projection pass — each re-derived the fact
    # aggregation (2 lineitem scans in the plan)
    idx = _idx(spark, sf_dir).localCheckpoint(eager=True)
    mu = idx.agg(
        (F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "m"
        ),
        bcount("n"),
    )
    twiddle = spark.createDataFrame(
        _TWIDDLE, "period long, k long, c double, s double"
    )
    terms = (
        idx.crossJoin(F.broadcast(mu))
        .join(
            F.broadcast(twiddle),
            F.col("k") == F.col("t").cast("bigint") % F.col("period"),
        )
        .groupBy("period")
        .agg(
            F.sum(((F.col("y") - F.col("m")) * F.col("c")).cast("decimal(38,10)"))
            .cast("double")
            .alias("cr"),
            F.sum(((F.col("y") - F.col("m")) * F.col("s")).cast("decimal(38,10)"))
            .cast("double")
            .alias("ci"),
            F.max("n").alias("n"),
        )
    )
    pw = terms.select(
        "period",
        ((F.col("cr") * F.col("cr") + F.col("ci") * F.col("ci")) * 2.0 / F.col("n")).alias(
            "power"
        ),
    )
    wall = Window.partitionBy()
    # dB scale: the raw power carries ~15 significant digits, where the
    # engines' last-ulp of cr²+ci² (FMA contraction) would surface; the
    # log compresses a 1-ulp input gap to ~1e-15 absolute, far inside
    # the round-6 guard.
    return pw.select(
        "period",
        F.round(10.0 * F.log("power") / F.log(F.lit(10.0)), 6).alias(
            "power_db"
        ),
        (F.col("power") == F.max("power").over(wall)).alias("is_peak"),
    ).orderBy("period")


@register(
    "q_recurrence_rate",
    oracle=f"""
    WITH {_DAILY_SQL},
    sd AS (
      SELECT m.m, m.n,
             sqrt((CAST(SUM(CAST(i.y * i.y AS DECIMAL(38,10))) AS DOUBLE)
                   - m.m * m.m * m.n) / (m.n - 1.0)) AS s
      FROM idx i, mu m GROUP BY m.m, m.n
    ),
    z AS (
      SELECT CAST(i.t AS BIGINT) AS i, (i.y - s.m) / s.s AS z
      FROM idx i, sd s
    ),
    rec AS (
      SELECT a.i AS i, b.i AS j
      FROM z a JOIN z b ON b.i > a.i
      WHERE abs(a.z - b.z) < 0.1
    ),
    diag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diag
      FROM rec r JOIN rec r2 ON r2.i = r.i + 1 AND r2.j = r.j + 1
    )
    SELECT (SELECT n FROM mu) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_recurrent,
           round(CAST(COUNT(*) AS DOUBLE)
                 / ((SELECT n FROM mu) * ((SELECT n FROM mu) - 1) / 2), 6)
             AS recurrence_rate,
           round(CAST((SELECT n_diag FROM diag) AS DOUBLE) / COUNT(*), 6)
             AS determinism
    FROM rec
    """,
)
def q_recurrence_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurrence quantification of standardized daily revenue:
    recurrence rate = the share of day pairs (i<j) whose z-scores fall
    within ε = 0.1 of each other, and determinism = the share of
    recurrent pairs whose diagonal successor (i+1, j+1) is also
    recurrent — structured dynamics produce diagonal lines in the
    recurrence plot, noise produces isolated points.

    Determinism (numeric): z-scores come from 1-row decimal-exact
    moments; recurrence is a double comparison of identical inputs;
    the diagonal count is an integer equi-join on (i+1, j+1).

    Scale: the pair expansion is the bounded day-grid self-product
    (~2.4k²/2 cells regardless of SF, whitelisted); the diagonal join
    is equi-keyed on the recurrent-pair set. §2.B statistics family
    [NS].
    """
    # checkpointed once (r6): the bounded day grid feeds moments, the
    # z map, and both sides of the pair product — each reference
    # re-derived the fact aggregation (12 lineitem scans in the plan)
    idx = _idx(spark, sf_dir).localCheckpoint(eager=True)
    mu = idx.agg(
        (F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "m"
        ),
        bcount("n"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxx"),
    )
    sd = mu.select(
        "m",
        "n",
        F.sqrt(
            (F.col("sxx") - F.col("m") * F.col("m") * F.col("n"))
            / (F.col("n") - 1.0)
        ).alias("s"),
    )
    z = idx.crossJoin(F.broadcast(sd)).select(
        F.col("t").cast("bigint").alias("i"),
        ((F.col("y") - F.col("m")) / F.col("s")).alias("z"),
        "n",
    )
    zb = z.select(F.col("i").alias("j"), F.col("z").alias("zb"))
    rec = (
        z.join(F.broadcast(zb), F.col("j") > F.col("i"))
        .filter(F.abs(F.col("z") - F.col("zb")) < 0.1)
        .select("i", "j", "n")
    )
    rec2 = rec.select(
        (F.col("i") - 1).alias("i2"), (F.col("j") - 1).alias("j2")
    )
    diag = rec.join(
        F.broadcast(rec2),
        (F.col("i2") == F.col("i")) & (F.col("j2") == F.col("j")),
    ).agg(bcount("n_diag"))
    tot = rec.agg(bcount("n_recurrent"), F.max("n").alias("n"))
    return tot.crossJoin(F.broadcast(diag)).select(
        F.col("n").alias("n_days"),
        "n_recurrent",
        F.round(
            F.col("n_recurrent").cast("double")
            / (F.col("n") * (F.col("n") - 1) / 2),
            6,
        ).alias("recurrence_rate"),
        F.round(
            F.col("n_diag").cast("double") / F.col("n_recurrent"), 6
        ).alias("determinism"),
    )


@register(
    "q_beta_binomial_shrinkage",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem GROUP BY 1
    ),
    rates AS (
      SELECT l_partkey, n, k, CAST(k AS DOUBLE) / n AS r FROM per_part
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(CAST(r AS DECIMAL(38,15))) AS DOUBLE) AS sr,
             CAST(SUM(CAST(r * r AS DECIMAL(38,15))) AS DOUBLE) AS srr
      FROM rates
    ),
    prior AS (
      SELECT sr / np AS m,
             (srr - sr * sr / np) / (np - 1.0) AS v
      FROM mom
    ),
    ab AS (
      SELECT m, v,
             (m * (1.0 - m) / v - 1.0) * m AS alpha,
             (m * (1.0 - m) / v - 1.0) * (1.0 - m) AS beta
      FROM prior
    ),
    shrunk AS (
      SELECT r.l_partkey, r.n, r.k, r.r,
             (r.k + a.alpha) / (r.n + a.alpha + a.beta) AS sh,
             abs((r.k + a.alpha) / (r.n + a.alpha + a.beta) - r.r) AS delta
      FROM rates r, ab a
    ),
    top AS (
      SELECT * FROM shrunk ORDER BY delta DESC, l_partkey LIMIT 10
    )
    SELECT l_partkey, n AS n_lines, k AS n_returned,
           round(r, 6) AS raw_rate,
           round(sh, 6) AS shrunk_rate,
           round(delta, 6) AS shrink_delta
    FROM top ORDER BY round(delta, 6) DESC, l_partkey
    """,
)
def q_beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial empirical-Bayes shrinkage of per-part return
    rates: the fleet of raw rates k/n fits a Beta(α, β) prior by method
    of moments (α+β = m(1−m)/v − 1), and each part's posterior-mean
    rate (k+α)/(n+α+β) pulls small-sample parts toward the prior — the
    classic "batting average" estimator; reports the 10 parts most
    moved by shrinkage. Conjugate companion to q_james_stein.

    Determinism: rate moments are decimal-exact sums; the top-10
    selects on unrounded |delta| with a partkey tiebreak on both
    engines before rounding.

    Scale: one fact rollup to the part grain; the 1-row prior broadcast
    onto parts is a whitelisted 1-row aggregate; top-10 is a
    sort-limit. §2.B statistics family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    rates = (
        li.groupBy("l_partkey")
        .agg(
            bcount("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("k"),
        )
        .select(
            "l_partkey", "n", "k", (F.col("k").cast("double") / F.col("n")).alias("r")
        )
        # checkpointed once (r6): the moment fit and the shrinkage pass
        # both re-derived the rollup (2 lineitem scans in the plan); the
        # part-domain grid materializes once
        .localCheckpoint(eager=True)
    )
    mom = rates.agg(
        bcount("np"),
        F.sum(F.col("r").cast(D15)).cast("double").alias("sr"),
        F.sum((F.col("r") * F.col("r")).cast(D15)).cast("double").alias("srr"),
    )
    ab = mom.select(
        (F.col("sr") / F.col("np")).alias("m"),
        (
            (F.col("srr") - F.col("sr") * F.col("sr") / F.col("np"))
            / (F.col("np") - 1.0)
        ).alias("v"),
    ).select(
        ((F.col("m") * (1.0 - F.col("m")) / F.col("v") - 1.0) * F.col("m")).alias(
            "alpha"
        ),
        (
            (F.col("m") * (1.0 - F.col("m")) / F.col("v") - 1.0)
            * (1.0 - F.col("m"))
        ).alias("beta"),
    )
    shrunk = rates.crossJoin(F.broadcast(ab)).select(
        "l_partkey",
        "n",
        "k",
        "r",
        (
            (F.col("k") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta"))
        ).alias("sh"),
        F.abs(
            (F.col("k") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta"))
            - F.col("r")
        ).alias("delta"),
    )
    top = shrunk.orderBy(F.col("delta").desc(), "l_partkey").limit(10)
    return top.select(
        "l_partkey",
        F.col("n").alias("n_lines"),
        F.col("k").alias("n_returned"),
        F.round("r", 6).alias("raw_rate"),
        F.round("sh", 6).alias("shrunk_rate"),
        F.round("delta", 6).alias("shrink_delta"),
    ).orderBy(F.col("shrink_delta").desc(), "l_partkey")
