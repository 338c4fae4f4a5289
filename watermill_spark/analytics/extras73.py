"""Analytics batch 81: binary-segmentation changepoint detection (the
series segmented into regimes, not just tested for change), optimal
histogram bin-width selection (Sturges / Scott / Freedman–Diaconis), and
the effective sample size of the autocorrelated daily series.

Binary segmentation scans every candidate split with exact-decimal prefix
sums — SSE(t) is a closed form of prefix aggregates, so the argmin is one
window pass, not a quadratic loop; it reuses the engine's Durbin–Levinson
autocovariances for the ESS correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .extras48 import _SQL_DAILY_1995, _SQL_GAMMAS, _spark_centered_daily, _spark_gammas


@register(
    "q_binary_segmentation",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT d, rev,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
             CAST(SUM(rev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(28,6)) AS cum,
             CAST(SUM(CAST(CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE)
                      AS DECIMAL(38,6))) OVER (ORDER BY d ROWS UNBOUNDED
                      PRECEDING) AS DECIMAL(38,6)) AS cum2,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(rev) OVER () AS DECIMAL(28,6)) AS tot,
             CAST(SUM(CAST(CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE)
                      AS DECIMAL(38,6))) OVER () AS DECIMAL(38,6)) AS tot2
      FROM daily
    ),
    scored AS (
      SELECT d, t, n,
             (CAST(cum2 AS DOUBLE)
              - CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE) / t)
             + (CAST(tot2 - cum2 AS DOUBLE)
                - CAST(tot - cum AS DOUBLE) * CAST(tot - cum AS DOUBLE)
                  / (n - t)) AS sse_split,
             CAST(tot2 AS DOUBLE)
             - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) / n AS sse_total
      FROM idx WHERE t < n
    ),
    best AS (
      SELECT d, t, n, sse_split, sse_total,
             ROW_NUMBER() OVER (ORDER BY sse_split, t) AS pick
      FROM scored
    )
    SELECT n AS n_days,
           d AS changepoint_day,
           CAST(t AS BIGINT) AS changepoint_t,
           round(sse_total, 2) AS sse_no_split,
           round(sse_split, 2) AS sse_with_split,
           round(1.0 - sse_split / sse_total, 6) AS variance_explained
    FROM best WHERE pick = 1
    """,
)
def q_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint: the split day t minimizing
    SSE_left + SSE_right over the whole daily revenue series, found in
    one pass from exact-decimal prefix sums (SSE of any prefix/suffix is
    a closed form of cum, cum², t) — the *locating* counterpart to
    q_cusum_changepoint / q_pettitt_test, reporting the best split and
    its explained-variance gain (the CART split criterion applied to
    time).

    Determinism: prefix sums are exact decimals; SSE(t) is fixed-shape
    double algebra per candidate; argmin tiebreaks on t.

    Scale: two running windows + one argmax over the calendar-bounded
    grid — O(n), not the O(n²) naive segment scan. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev")
    )
    wseq = Window.orderBy("d")
    wrun = wseq.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    r2 = (F.col("rev").cast("double") * F.col("rev").cast("double")).cast(
        "decimal(38,6)"
    )
    # cumulative/total sums are 28,6 / 38,6, not the per-day 18,6: the
    # series total is ~50x the sf0.1 value at sf5 and overflowed 18,6
    # (caught by the sf5 engine sweep — NUMERIC_VALUE_OUT_OF_RANGE)
    idx = daily.select(
        "d",
        F.row_number().over(wseq).cast("bigint").alias("t"),
        F.sum("rev").over(wrun).cast("decimal(28,6)").alias("cum"),
        F.sum(r2).over(wrun).cast("decimal(38,6)").alias("cum2"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("rev").over(wall).cast("decimal(28,6)").alias("tot"),
        F.sum(r2).over(wall).cast("decimal(38,6)").alias("tot2"),
    )
    sse_split = (
        F.col("cum2").cast("double")
        - F.col("cum").cast("double") * F.col("cum").cast("double") / F.col("t")
    ) + (
        (F.col("tot2") - F.col("cum2")).cast("double")
        - (F.col("tot") - F.col("cum")).cast("double")
        * (F.col("tot") - F.col("cum")).cast("double")
        / (F.col("n") - F.col("t"))
    )
    sse_total = F.col("tot2").cast("double") - F.col("tot").cast("double") * F.col(
        "tot"
    ).cast("double") / F.col("n")
    scored = idx.filter(F.col("t") < F.col("n")).select(
        "d",
        "t",
        "n",
        sse_split.alias("sse_split"),
        sse_total.alias("sse_total"),
    )
    best = scored.select(
        "*", F.row_number().over(Window.orderBy("sse_split", "t")).alias("pick")
    ).filter(F.col("pick") == 1)
    return best.select(
        F.col("n").alias("n_days"),
        F.col("d").alias("changepoint_day"),
        F.col("t").cast("bigint").alias("changepoint_t"),
        F.round("sse_total", 2).alias("sse_no_split"),
        F.round("sse_split", 2).alias("sse_with_split"),
        F.round(1.0 - F.col("sse_split") / F.col("sse_total"), 6).alias(
            "variance_explained"
        ),
    )


@register(
    "q_optimal_bins",
    oracle="""
    WITH v AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x,
             CAST(round(o_totalprice * 100) AS BIGINT) AS xc
      FROM orders
    ),
    ranked AS (
      SELECT xc, CAST(ROW_NUMBER() OVER (ORDER BY xc) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM v
    ),
    iqr AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT)
                 THEN xc END) / 100.0
             - MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT)
                   THEN xc END) / 100.0 AS iqr_v,
             MAX(n) AS n
      FROM ranked
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MAX(x) - MIN(x) AS DOUBLE) AS rng,
             sqrt(CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(*)
                  - (CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*))) AS sd
      FROM v
    )
    SELECT mom.n AS n_rows, round(mom.rng, 2) AS value_range,
           CAST(CEIL(ln(CAST(mom.n AS DOUBLE)) / ln(2.0) + 1) AS BIGINT)
             AS sturges_bins,
           round(3.49 * mom.sd * pow(CAST(mom.n AS DOUBLE), -1.0 / 3), 2)
             AS scott_width,
           CAST(CEIL(mom.rng / (3.49 * mom.sd
                * pow(CAST(mom.n AS DOUBLE), -1.0 / 3))) AS BIGINT)
             AS scott_bins,
           round(2.0 * iqr.iqr_v * pow(CAST(mom.n AS DOUBLE), -1.0 / 3), 2)
             AS fd_width,
           CAST(CEIL(mom.rng / (2.0 * iqr.iqr_v
                * pow(CAST(mom.n AS DOUBLE), -1.0 / 3))) AS BIGINT)
             AS fd_bins
    FROM mom, iqr
    """,
)
def q_optimal_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram bin selection by the three classical rules — Sturges
    (⌈log₂n⌉+1 bins), Scott (width 3.49·σ·n^(−1/3)), Freedman–Diaconis
    (width 2·IQR·n^(−1/3)) — computed from exact moments and exact
    rank-based quartiles: the *meta*-query that parameterizes every
    histogram operator in the engine (q_width_bucket_histogram,
    q_histogram_quantile_error, q_gaussian_kde's competitor) instead of
    guessing bucket counts.

    Determinism: IQR is exact order statistics on cents; σ from exact
    moment sums; widths/bin counts are fixed-shape expressions with
    ceil() on well-separated values.

    Scale: one moment pass + one sort for quartiles; output is 1 row.
    §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_totalprice").cast("double").alias("x"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("xc"),
    )
    # single scan (r6): the IQR rank and the moment pass each re-scanned
    # orders; both derive exactly from ONE per-distinct-value count grid
    # (checkpointed once — posting-list class). The rank-r quantile is
    # the smallest value whose cumulative count reaches r, and the
    # moment sums are count-weighted with every decimal product sized
    # within precision 38 (no rescale ⇒ c × value ≡ the value added c
    # times).
    vg = v.groupBy("x", "xc").agg(bcount("c")).localCheckpoint(eager=True)
    cg = vg.groupBy("xc").agg(F.sum("c").cast("bigint").alias("c"))
    ranked = cg.select(
        "xc",
        F.sum("c")
        .over(Window.orderBy("xc").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    iqr = ranked.agg(
        (
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(0.75 * F.col("n")).cast("bigint"),
                    F.col("xc"),
                )
            )
            / 100.0
            - F.min(
                F.when(
                    F.col("cum") >= F.ceil(0.25 * F.col("n")).cast("bigint"),
                    F.col("xc"),
                )
            )
            / 100.0
        ).alias("iqr_v")
    )
    cw = F.col("c").cast("decimal(12,0)")
    cnt_n = F.sum("c").cast("bigint")
    mom = vg.agg(
        cnt_n.alias("n"),
        (F.max("x") - F.min("x")).alias("rng"),
        F.sqrt(
            F.sum((F.col("x") * F.col("x")).cast("decimal(25,6)") * cw)
            .cast("double")
            / cnt_n
            - (F.sum(dec("x").cast("decimal(25,6)") * cw).cast("double") / cnt_n)
            * (F.sum(dec("x").cast("decimal(25,6)") * cw).cast("double") / cnt_n)
        ).alias("sd"),
    )
    s = mom.crossJoin(F.broadcast(iqr))
    ncb = F.col("n").cast("double")
    scott_w = 3.49 * F.col("sd") * F.pow(ncb, -1.0 / 3)
    fd_w = 2.0 * F.col("iqr_v") * F.pow(ncb, -1.0 / 3)
    return s.select(
        F.col("n").alias("n_rows"),
        F.round("rng", 2).alias("value_range"),
        F.ceil(F.log(ncb) / F.log(F.lit(2.0)) + 1).cast("bigint").alias(
            "sturges_bins"
        ),
        F.round(scott_w, 2).alias("scott_width"),
        F.ceil(F.col("rng") / scott_w).cast("bigint").alias("scott_bins"),
        F.round(fd_w, 2).alias("fd_width"),
        F.ceil(F.col("rng") / fd_w).cast("bigint").alias("fd_bins"),
    )


@register(
    "q_effective_sample_size",
    oracle=f"""
    WITH {_SQL_DAILY_1995},
    {_SQL_GAMMAS}
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           round(g1 / g0, 6) AS rho_1,
           round(g2 / g0, 6) AS rho_2,
           round(g3 / g0, 6) AS rho_3,
           round(CAST((SELECT COUNT(*) FROM daily) AS DOUBLE)
                 / (1.0 + 2.0 * (g1 / g0 + g2 / g0 + g3 / g0)), 2)
             AS effective_n,
           round(1.0 / (1.0 + 2.0 * (g1 / g0 + g2 / g0 + g3 / g0)), 6)
             AS efficiency
    FROM g
    """,
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of 1995 daily revenue under autocorrelation:
    ESS = n / (1 + 2Σρ_k) over lags 1–3 — the honest "how many
    independent observations do we really have" number behind every
    standard error computed on a time series (q_ols_daily_trend's naive
    SE is too small by exactly 1/√efficiency); composes the engine's
    Durbin–Levinson autocovariance machinery.

    Determinism: same DECIMAL autocovariances as q_pacf_durbin_levinson;
    the correction is fixed-shape double algebra.

    Scale: identical calendar-bounded shape to the PACF queries. §2.B
    [NS].
    """
    cdf = _spark_centered_daily(spark, sf_dir)
    g = _spark_gammas(cdf)
    nd = cdf.agg(bcount("n_days"))
    s = g.crossJoin(F.broadcast(nd))
    # same expression tree as the oracle (three divisions, then sum)
    rho_sum = (
        F.col("g1") / F.col("g0")
        + F.col("g2") / F.col("g0")
        + F.col("g3") / F.col("g0")
    )
    denom = 1.0 + 2.0 * rho_sum
    return s.select(
        "n_days",
        F.round(F.col("g1") / F.col("g0"), 6).alias("rho_1"),
        F.round(F.col("g2") / F.col("g0"), 6).alias("rho_2"),
        F.round(F.col("g3") / F.col("g0"), 6).alias("rho_3"),
        F.round(F.col("n_days").cast("double") / denom, 2).alias("effective_n"),
        F.round(1.0 / denom, 6).alias("efficiency"),
    )
