"""Analytics batch 56: time-series identification depth — PACF via the
Durbin–Levinson closed forms, an AR(2) Yule–Walker fit with one-step
forecast, a DFT periodogram at candidate seasonal periods — plus Levene's
test for variance homogeneity across order priorities (the assumption
checker behind q_anova_value_by_type).

ACF values are ratios of exact DECIMAL sums (same discipline as
q_acf_daily_revenue); PACF/AR coefficients are closed-form double algebra
on those ratios, so no iterative solver is needed and both engines follow
the identical expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register

# Shared oracle CTE: 1995 daily revenue with mean removed, lag columns.
_SQL_DAILY_1995 = """
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders WHERE year(o_orderdate) = 1995
      GROUP BY 1
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu
      FROM daily
    ),
    c AS (
      SELECT d, rev - (SELECT mu FROM stats) AS x,
             ROW_NUMBER() OVER (ORDER BY d) AS t
      FROM daily
    )
"""


def _spark_centered_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    daily = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("rev"))
        # checkpointed once (r6): every caller references the returned
        # grid 2-8× (moments, gammas, lag windows, frequency products) and
        # each reference re-derived this fact aggregation — the ≤365-row
        # 1995 day grid is materialized once; orders is scanned exactly
        # once per query
        .localCheckpoint(eager=True)
    )
    stats = daily.agg(
        bcount("n"),
        (F.sum(dec("rev")).cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "d",
            "n",
            (F.col("rev") - F.col("mu")).alias("x"),
            F.row_number().over(Window.orderBy("d")).alias("t"),
        )
    )


# gamma_k = sum(x_t * x_{t+k}) through DECIMAL; rho_k = gamma_k / gamma_0.
_SQL_GAMMAS = """
    g AS (
      SELECT
        CAST(SUM(CAST(a.x * a.x AS DECIMAL(28,6))) AS DOUBLE) AS g0,
        CAST(SUM(CASE WHEN b1.x IS NOT NULL
                 THEN CAST(a.x * b1.x AS DECIMAL(28,6)) END) AS DOUBLE) AS g1,
        CAST(SUM(CASE WHEN b2.x IS NOT NULL
                 THEN CAST(a.x * b2.x AS DECIMAL(28,6)) END) AS DOUBLE) AS g2,
        CAST(SUM(CASE WHEN b3.x IS NOT NULL
                 THEN CAST(a.x * b3.x AS DECIMAL(28,6)) END) AS DOUBLE) AS g3
      FROM c a
      LEFT JOIN c b1 ON b1.t = a.t + 1
      LEFT JOIN c b2 ON b2.t = a.t + 2
      LEFT JOIN c b3 ON b3.t = a.t + 3
    )
"""


def _spark_gammas(cdf: DataFrame) -> DataFrame:
    w = Window.orderBy("t")
    lagd = cdf.select(
        "x",
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
        F.lead("x", 3).over(w).alias("x3"),
    )
    def gk(col: str, alias: str):
        return (
            F.sum(
                F.when(
                    F.col(col).isNotNull(),
                    (F.col("x") * F.col(col)).cast("decimal(28,6)"),
                )
            )
            .cast("double")
            .alias(alias)
        )
    return lagd.agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)"))
        .cast("double")
        .alias("g0"),
        gk("x1", "g1"),
        gk("x2", "g2"),
        gk("x3", "g3"),
    )


@register(
    "q_pacf_durbin_levinson",
    oracle=f"""
    WITH {_SQL_DAILY_1995},
    {_SQL_GAMMAS},
    r AS (SELECT g1 / g0 AS r1, g2 / g0 AS r2, g3 / g0 AS r3 FROM g)
    SELECT round(r1, 6) AS pacf_1,
           round((r2 - r1 * r1) / (1 - r1 * r1), 6) AS pacf_2,
           round(r1, 6) AS acf_1, round(r2, 6) AS acf_2, round(r3, 6) AS acf_3
    FROM r
    """,
)
def q_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of 1995 daily revenue at lags 1–2 via the
    Durbin–Levinson closed forms (φ₁₁ = ρ₁; φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²)),
    alongside the raw ACF at lags 1–3 — the AR-order identification plot
    (PACF cuts off at the true AR order) that q_acf_daily_revenue alone
    cannot provide.

    The lag-3 column reuses the same level-2 recursion inputs on both
    engines (identical expression tree), so cross-engine bits agree even
    though the algebra is deliberately written long-hand in the oracle.

    Determinism: autocovariances are DECIMAL(28,6) sums of per-row
    products; all downstream algebra is fixed-shape double arithmetic.

    Scale: daily rollup map-side combines; lag alignment is 3 `lead`s over
    one calendar-bounded window partition (365 rows regardless of corpus
    size). §2.B [NS].
    """
    g = _spark_gammas(_spark_centered_daily(spark, sf_dir))
    r1 = F.col("g1") / F.col("g0")
    r2 = F.col("g2") / F.col("g0")
    r3 = F.col("g3") / F.col("g0")
    p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    return g.select(
        F.round(r1, 6).alias("pacf_1"),
        F.round(p22, 6).alias("pacf_2"),
        F.round(r1, 6).alias("acf_1"),
        F.round(r2, 6).alias("acf_2"),
        F.round(r3, 6).alias("acf_3"),
    )


@register(
    "q_ar2_yule_walker",
    oracle=f"""
    WITH {_SQL_DAILY_1995},
    {_SQL_GAMMAS},
    r AS (SELECT g0, g1 / g0 AS r1, g2 / g0 AS r2 FROM g),
    fit AS (
      SELECT g0, r1, r2,
             r1 * (1 - r2) / (1 - r1 * r1) AS phi1,
             (r2 - r1 * r1) / (1 - r1 * r1) AS phi2
      FROM r
    ),
    lastx AS (
      SELECT MAX(CASE WHEN t = (SELECT MAX(t) FROM c) THEN x END) AS x_n,
             MAX(CASE WHEN t = (SELECT MAX(t) FROM c) - 1 THEN x END) AS x_n1
      FROM c
    )
    SELECT round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
           round(1.0 - phi1 * r1 - phi2 * r2, 6) AS noise_var_ratio,
           round((SELECT mu FROM stats)
                 + phi1 * x_n + phi2 * x_n1, 2) AS forecast_next,
           CASE WHEN phi2 > -1 AND phi1 + phi2 < 1 AND phi2 - phi1 < 1
                THEN 'stationary' ELSE 'nonstationary' END AS region
    FROM fit, lastx
    """,
)
def q_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit of 1995 daily revenue by Yule–Walker (closed-form 2×2
    solve: φ₁ = ρ₁(1−ρ₂)/(1−ρ₁²), φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²)), with the
    innovation-variance ratio 1−φ₁ρ₁−φ₂ρ₂, a one-step-ahead forecast from
    the last two observed (centered) days, and the stationarity-triangle
    verdict — the parametric follow-up to the q_pacf_durbin_levinson order
    identification.

    Determinism: same DECIMAL autocovariances; the forecast re-adds the
    exact-sum mean and rounds to cents.

    Scale: identical shape to q_pacf_durbin_levinson — the only O(n)
    stages are calendar-bounded. §2.B [NS].
    """
    cdf = _spark_centered_daily(spark, sf_dir)
    g = _spark_gammas(cdf)
    maxt = cdf.agg(F.max("t").alias("tmax"))
    lastx = (
        cdf.crossJoin(F.broadcast(maxt))
        .agg(
            F.max(F.when(F.col("t") == F.col("tmax"), F.col("x"))).alias("x_n"),
            F.max(F.when(F.col("t") == F.col("tmax") - 1, F.col("x"))).alias(
                "x_n1"
            ),
        )
    )
    stats = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("rev"))
        .agg((F.sum(dec("rev")).cast("double") / F.count(F.lit(1))).alias("mu"))
    )
    r1 = F.col("g1") / F.col("g0")
    r2 = F.col("g2") / F.col("g0")
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    s = g.crossJoin(lastx).crossJoin(F.broadcast(stats))
    return s.select(
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(1.0 - phi1 * r1 - phi2 * r2, 6).alias("noise_var_ratio"),
        F.round(
            F.col("mu") + phi1 * F.col("x_n") + phi2 * F.col("x_n1"), 2
        ).alias("forecast_next"),
        F.when(
            (phi2 > -1) & (phi1 + phi2 < 1) & (phi2 - phi1 < 1), "stationary"
        )
        .otherwise("nonstationary")
        .alias("region"),
    )


_PERIODS = (7, 14, 30, 91, 365)
_TWO_PI = 6.283185307179586


@register(
    "q_dft_periodogram",
    oracle=f"""
    WITH {_SQL_DAILY_1995},
    per AS (SELECT UNNEST(ARRAY{list(_PERIODS)}) AS period),
    terms AS (
      SELECT p.period,
             CAST(SUM(CAST(c.x * cos({_TWO_PI} * c.t / p.period)
                      AS DECIMAL(28,6))) AS DOUBLE) AS re,
             CAST(SUM(CAST(c.x * sin({_TWO_PI} * c.t / p.period)
                      AS DECIMAL(28,6))) AS DOUBLE) AS im,
             CAST(SUM(CAST(c.x * c.x AS DECIMAL(28,6))) AS DOUBLE) AS ss,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM c, per p
      GROUP BY p.period
    )
    SELECT CAST(period AS BIGINT) AS period,
           round((re * re + im * im) / n, 2) AS power,
           round((re * re + im * im) / (n * ss), 6) AS power_share
    FROM terms
    ORDER BY period
    """,
)
def q_dft_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency DFT periodogram of 1995 daily revenue at candidate
    seasonal periods (7/14/30/91/365 days): P(f) = (Re²+Im²)/n with Re =
    Σ xₜcos(2πt/p), Im = Σ xₜsin(2πt/p), plus each period's share of total
    variance — the spectral confirmation of what q_seasonal_strength and
    q_seasonality_index measure in the time domain (weekly cadence should
    dominate).

    Determinism: cos/sin are evaluated on identical double arguments on
    both engines (<1 ulp apart in practice); each product is cast to
    DECIMAL(28,6) *per row* before summation so accumulation order is
    irrelevant, and outputs are rounded well inside the ulp margin — the
    same stance the entropy/log queries already take for transcendentals.

    Scale: the candidate-period list is a tiny broadcast cross join; the
    heavy stage is one map-side-combined pass over calendar-bounded daily
    rows. §2.B [NS].
    """
    cdf = _spark_centered_daily(spark, sf_dir)
    per = spark.range(len(_PERIODS)).select(
        F.element_at(
            F.array(*[F.lit(p) for p in _PERIODS]), (F.col("id") + 1).cast("int")
        ).alias("period")
    )
    j = cdf.crossJoin(F.broadcast(per))
    ang = F.lit(_TWO_PI) * F.col("t") / F.col("period")
    terms = j.groupBy("period").agg(
        F.sum((F.col("x") * F.cos(ang)).cast("decimal(28,6)"))
        .cast("double")
        .alias("re"),
        F.sum((F.col("x") * F.sin(ang)).cast("decimal(28,6)"))
        .cast("double")
        .alias("im"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)"))
        .cast("double")
        .alias("ss"),
        bcount("n"),
    )
    pw = (F.col("re") * F.col("re") + F.col("im") * F.col("im")) / F.col("n")
    return (
        terms.select(
            F.col("period").cast("bigint").alias("period"),
            F.round(pw, 2).alias("power"),
            F.round(pw / F.col("ss"), 6).alias("power_share"),
        )
        .orderBy("period")
    )


@register(
    "q_levene_test",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS vc
      FROM orders
    ),
    med AS (
      SELECT g, vc AS med_c FROM (
        SELECT g, vc,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY vc) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM cents)
      WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
    ),
    z AS (
      SELECT c.g, abs(c.vc - m.med_c) AS zc
      FROM cents c JOIN med m USING (g)
    ),
    gstat AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(CAST(zc AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(zc * zc AS DECIMAL(38,0))) AS DOUBLE) AS s2
      FROM z GROUP BY g
    ),
    folded AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(s1 AS DECIMAL(38,0))) AS DOUBLE) AS s1_tot,
             list_reduce(list(s2 - s1 * s1 / n_i ORDER BY g),
                         (acc, x) -> acc + x) AS ssw_c,
             list_reduce(list(s1 * s1 / n_i ORDER BY g),
                         (acc, x) -> acc + x) AS ssb_part
      FROM gstat
    )
    SELECT n, k,
           round((ssb_part - s1_tot * s1_tot / n) / 10000.0 / (k - 1), 6)
             AS ms_between,
           round(ssw_c / 10000.0 / (n - k), 6) AS ms_within,
           round(((ssb_part - s1_tot * s1_tot / n) / (k - 1))
                 / (ssw_c / (n - k)), 6) AS levene_w
    FROM folded
    """,
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's test (Brown–Forsythe median-centered variant) for variance
    homogeneity of order totals across the five priority classes: one-way
    ANOVA on |v − median_g(v)|, W = MS_between / MS_within — the assumption
    gate for q_anova_value_by_type.

    Determinism, the hard way: prices become exact integer cents, the group
    center is the *lower median* (an actual data value, so deviations stay
    exact integers), per-group Σz and Σz² accumulate in DECIMAL(38,0), and
    the cross-group reduction of the per-group double terms is a
    *sequential ordered fold* (array_sort + F.aggregate / list_reduce with
    ORDER BY) so floating addition order is pinned on both engines — a
    naive SUM over groups would be free to reassociate. (The mean-centered
    variant is uncheckable cross-engine: group means of cent-valued data
    land exactly on decimal-cast half boundaries, where Spark's
    shortest-repr HALF_UP cast and DuckDB's binary-value rounding
    disagree.)

    Scale: medians come from one window pass per group (single shuffle on
    the groupBy key, shared with the moment aggregation); the fold runs on
    k=5 group rows on the driver side of the plan. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("vc"),
    )
    # single scan (r6): the per-group median and the deviation pass each
    # re-scanned orders; both derive exactly from ONE (group, cents)
    # count grid, checkpointed once (posting-list class: state linear in
    # the distinct-cents domain). All math is integer: the rank-r median
    # is the smallest value whose cumulative count reaches r, and the
    # deviation sums are count-weighted integer products (every decimal
    # product sized within precision 38 — no rescale, so c × value ≡ the
    # value added c times).
    grid = cents.groupBy("g", "vc").agg(bcount("c")).localCheckpoint(
        eager=True
    )
    wg = Window.partitionBy("g")
    med = (
        grid.select(
            "g",
            "vc",
            F.sum("c")
            .over(wg.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
            F.sum("c").over(wg).alias("n"),
        )
        .filter(
            F.col("cum") >= F.floor((F.col("n") + 1) / 2.0).cast("bigint")
        )
        .groupBy("g")
        .agg(F.min("vc").alias("med_c"))
    )
    z = grid.join(F.broadcast(med), "g").select(
        "g", "c", F.abs(F.col("vc") - F.col("med_c")).alias("zc")
    )
    cw = F.col("c").cast("decimal(18,0)")
    gstat = z.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("n_i"),
        F.sum(F.col("zc").cast("decimal(19,0)") * cw).cast("double").alias("s1"),
        F.sum((F.col("zc") * F.col("zc")).cast("decimal(19,0)") * cw)
        .cast("double")
        .alias("s2"),
    )
    ssw_term = F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_i")
    ssb_term = F.col("s1") * F.col("s1") / F.col("n_i")

    def fold(term, alias):
        arr = F.array_sort(F.collect_list(F.struct(F.col("g"), term.alias("t"))))
        return F.aggregate(
            F.transform(arr, lambda x: x["t"]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(alias)

    folded = gstat.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        bcount("k"),
        F.sum(F.col("s1").cast("decimal(38,0)")).cast("double").alias("s1_tot"),
        fold(ssw_term, "ssw_c"),
        fold(ssb_term, "ssb_part"),
    )
    ssb = F.col("ssb_part") - F.col("s1_tot") * F.col("s1_tot") / F.col("n")
    return folded.select(
        "n",
        "k",
        F.round(ssb / 10000.0 / (F.col("k") - 1), 6).alias("ms_between"),
        F.round(F.col("ssw_c") / 10000.0 / (F.col("n") - F.col("k")), 6).alias(
            "ms_within"
        ),
        F.round(
            (ssb / (F.col("k") - 1)) / (F.col("ssw_c") / (F.col("n") - F.col("k"))),
            6,
        ).alias("levene_w"),
    )
