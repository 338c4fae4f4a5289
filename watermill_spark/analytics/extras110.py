"""Analytics batch 118: split-conformal prediction intervals, discrete
transfer entropy, and L1 (LAD) regression by slope-grid search.

Split conformal is the modern distribution-free way to attach a
guaranteed-coverage interval to ANY point forecast: calibrate the
quantile of absolute residuals on held-out data, add it to the
prediction. Transfer entropy is the directed information-flow measure —
"do clicks predict purchases beyond what purchases predict themselves?"
— the nonlinear generalization of Granger causality (q_granger_causality
tests the linear form). LAD regression minimizes Σ|resid| instead of
Σresid²; for a fixed slope the optimal intercept is the residual median,
so a deterministic slope grid + exact medians finds the fit without
iterative solvers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register

_CONF_ALPHA = 0.1  # target 90% coverage
_TE_LAG = 1
_LAD_SLOPES = 41  # grid: slope_ols * (0.5 + i/40), i = 0..40


@register(
    "q_conformal_interval",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             row_number() OVER (ORDER BY CAST(ts AS DATE)) AS rn,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM events WHERE value IS NOT NULL GROUP BY CAST(ts AS DATE)
    ),
    fit AS (
      -- OLS trend on the odd (training) half
      SELECT CAST(COUNT(*) AS DOUBLE) AS k,
             CAST(SUM(CAST(rn AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(rev AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rn * rev AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(CAST(rn AS DOUBLE) * rn AS DECIMAL(38,15)))
                  AS DOUBLE) AS sxx
      FROM daily WHERE rn % 2 = 1
    ),
    coefs AS (
      SELECT (k * sxy - sx * sy) / (k * sxx - sx * sx) AS b,
             (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k AS a
      FROM fit
    ),
    calib AS (
      -- conformity scores on the even (calibration) half
      SELECT abs(d.rev - (c.a + c.b * d.rn)) AS score
      FROM daily d, coefs c WHERE d.rn % 2 = 0
    ),
    ranked AS (
      SELECT score, row_number() OVER (ORDER BY score) AS r,
             COUNT(*) OVER () AS nn
      FROM calib
    ),
    q AS (
      SELECT MIN(score) AS qhat, CAST(MAX(nn) AS BIGINT) AS n_calib
      FROM ranked
      WHERE r >= ceil(LEAST(1.0,
                ceil((1.0 - {_CONF_ALPHA}) * (nn + 1)) / nn) * nn)
    )
    SELECT q.n_calib,
           round(c.a, 6) AS intercept,
           round(c.b, 6) AS slope,
           round(q.qhat, 6) AS qhat,
           round(CAST(SUM(CASE WHEN abs(d.rev - (c.a + c.b * d.rn)) <= q.qhat
                          THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS calib_coverage
    FROM daily d, coefs c, q
    WHERE d.rn % 2 = 0
    GROUP BY q.n_calib, c.a, c.b, q.qhat
    """,
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the daily-revenue trend:
    fit an OLS line on odd days, take the ⌈(1−α)(n+1)⌉/n empirical
    quantile of |residual| on even (calibration) days — the conformal
    radius q̂ such that [ŷ−q̂, ŷ+q̂] has ≥90% finite-sample coverage
    with NO distributional assumptions (Vovk; the modern replacement for
    Gaussian ±1.96σ bands, cf. q_forecast_interval_coverage). Also
    reports the realized calibration coverage as the sanity check.

    Determinism: the split is day-index parity; OLS moments are exact
    decimal sums; q̂ is a DISCRETE (order-statistic) quantile — no
    interpolation, so both engines pick the identical sample value.

    Scale: one day rollup, then constant-size closed forms over the
    bounded day grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(dec("value")).cast("double").alias("rev"))
        .select(
            "d", F.row_number().over(Window.orderBy("d")).alias("rn"), "rev"
        )
        .localCheckpoint(eager=True)
    )
    train = daily.filter(F.col("rn") % 2 == 1)
    fit = train.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("rn").cast(D15)).cast("double").alias("sx"),
        F.sum(F.col("rev").cast(D15)).cast("double").alias("sy"),
        F.sum((F.col("rn") * F.col("rev")).cast(D15)).cast("double").alias("sxy"),
        F.sum((F.col("rn").cast("double") * F.col("rn")).cast(D15))
        .cast("double")
        .alias("sxx"),
    )
    b = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    coefs = fit.select(b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("k")).alias("a"))
    calib = (
        daily.filter(F.col("rn") % 2 == 0)
        .crossJoin(F.broadcast(coefs))
        .select(
            "rn",
            "rev",
            "a",
            "b",
            F.abs(F.col("rev") - (F.col("a") + F.col("b") * F.col("rn"))).alias(
                "score"
            ),
        )
    )
    ncal = calib.agg(bcount("n"))
    level = calib.crossJoin(F.broadcast(ncal)).select(
        "*",
        F.least(
            F.lit(1.0),
            F.ceil((1.0 - _CONF_ALPHA) * (F.col("n") + 1)) / F.col("n"),
        ).alias("lvl"),
    )
    # discrete quantile: exact order statistic, no interpolation
    ranked = level.select(
        "n",
        "a",
        "b",
        "lvl",
        "score",
        F.row_number().over(Window.orderBy("score")).alias("r"),
    )
    qhat = (
        ranked.filter(F.col("r") >= F.ceil(F.col("lvl") * F.col("n")))
        .groupBy("n", "a", "b")
        .agg(F.min("score").alias("qhat"))
    )
    return (
        calib.join(F.broadcast(qhat.select("n", "qhat")), F.lit(True))
        .groupBy("n", "a", "b", "qhat")
        .agg(
            (
                F.sum(F.when(F.col("score") <= F.col("qhat"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("cov")
        )
        .select(
            F.col("n").alias("n_calib"),
            F.round("a", 6).alias("intercept"),
            F.round("b", 6).alias("slope"),
            F.round("qhat", 6).alias("qhat"),
            F.round("cov", 6).alias("calib_coverage"),
        )
    )


@register(
    "q_transfer_entropy",
    oracle=f"""
    WITH hourly AS MATERIALIZED (
      SELECT date_trunc('hour', ts) AS h,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS clicks,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases
      FROM events GROUP BY 1
    ),
    med AS (
      SELECT median(clicks) AS mc, median(purchases) AS mp FROM hourly
    ),
    sym AS MATERIALIZED (
      SELECT h,
             CASE WHEN clicks > m.mc THEN 1 ELSE 0 END AS x,
             CASE WHEN purchases > m.mp THEN 1 ELSE 0 END AS y,
             lag(CASE WHEN clicks > m.mc THEN 1 ELSE 0 END, {_TE_LAG})
               OVER (ORDER BY h) AS xl,
             lag(CASE WHEN purchases > m.mp THEN 1 ELSE 0 END, {_TE_LAG})
               OVER (ORDER BY h) AS yl
      FROM hourly, med m
    ),
    tri AS MATERIALIZED (
      SELECT y, yl, xl, CAST(COUNT(*) AS BIGINT) AS c
      FROM sym WHERE xl IS NOT NULL AND yl IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tri),
    margins AS (
      SELECT t.y, t.yl, t.xl, t.c, tt.n,
             (SELECT SUM(c) FROM tri t2
              WHERE t2.yl = t.yl AND t2.xl = t.xl) AS c_ylxl,
             (SELECT SUM(c) FROM tri t3 WHERE t3.yl = t.yl) AS c_yl,
             (SELECT SUM(c) FROM tri t4
              WHERE t4.y = t.y AND t4.yl = t.yl) AS c_yyl
      FROM tri t, tot tt
    )
    SELECT MAX(n) AS n_hours,
           round(CAST(SUM(CAST(
             (CAST(c AS DOUBLE) / n)
             * ln((CAST(c AS DOUBLE) * c_yl)
                  / (CAST(c_ylxl AS DOUBLE) * c_yyl))
             AS DECIMAL(38,15))) AS DOUBLE), 8) AS te_clicks_to_purchases
    FROM margins
    """,
)
def q_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer entropy TE(clicks→purchases) on hourly counts binarized
    at their medians: TE = Σ p(y,yₗ,xₗ)·ln[ p(y|yₗ,xₗ) / p(y|yₗ) ] over
    the 8-cell lag-1 joint histogram — the model-free directed
    information flow from click activity into future purchase activity,
    generalizing q_granger_causality beyond linearity and
    q_mutual_information beyond the undirected form. TE > 0 means click
    history improves purchase prediction beyond purchase history alone.

    Determinism: symbolization thresholds are exact medians of integer
    counts; the joint histogram is exact integers; each plug-in term is
    DECIMAL(38,15)-cast before the sum.

    Scale: one hour rollup (map-side combine), a lag window over the
    bounded hour grid, and an 8-row histogram — the fact table is
    touched once. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("purchases"),
    )
    med = hourly.agg(
        F.median("clicks").alias("mc"), F.median("purchases").alias("mp")
    )
    wl = Window.orderBy("h")
    x = F.when(F.col("clicks") > F.col("mc"), 1).otherwise(0)
    y = F.when(F.col("purchases") > F.col("mp"), 1).otherwise(0)
    sym = hourly.crossJoin(F.broadcast(med)).select(
        "h",
        x.alias("x"),
        y.alias("y"),
        F.lag(x, _TE_LAG).over(wl).alias("xl"),
        F.lag(y, _TE_LAG).over(wl).alias("yl"),
    )
    tri = (
        sym.filter(F.col("xl").isNotNull() & F.col("yl").isNotNull())
        .groupBy("y", "yl", "xl")
        .agg(bcount("c"))
        .localCheckpoint(eager=True)
    )
    tot = tri.agg(F.sum("c").cast("bigint").alias("n"))
    c_ylxl = tri.groupBy("yl", "xl").agg(F.sum("c").alias("c_ylxl"))
    c_yl = tri.groupBy("yl").agg(F.sum("c").alias("c_yl"))
    c_yyl = tri.groupBy("y", "yl").agg(F.sum("c").alias("c_yyl"))
    margins = (
        tri.join(F.broadcast(c_ylxl), ["yl", "xl"])
        .join(F.broadcast(c_yl), "yl")
        .join(F.broadcast(c_yyl), ["y", "yl"])
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("c").cast("double") / F.col("n")) * F.log(
        (F.col("c").cast("double") * F.col("c_yl"))
        / (F.col("c_ylxl").cast("double") * F.col("c_yyl"))
    )
    return margins.agg(
        F.max("n").alias("n_hours"),
        F.round(F.sum(term.cast(D15)).cast("double"), 8).alias(
            "te_clicks_to_purchases"
        ),
    )


@register(
    "q_lad_regression_grid",
    oracle=f"""
    WITH pts AS MATERIALIZED (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    ols AS (
      SELECT (COUNT(*) * CAST(SUM(CAST(x * y AS DECIMAL(38,15))) AS DOUBLE)
              - CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE)
                * CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE))
             / (COUNT(*) * CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE)
                - CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE)
                  * CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE)) AS b_ols
      FROM pts
    ),
    grid AS MATERIALIZED (
      SELECT g AS gi, o.b_ols * (0.5 + CAST(g AS DOUBLE) / 40.0) AS b
      FROM generate_series(0, {_LAD_SLOPES - 1}) t(g), ols o
    ),
    cand AS MATERIALIZED (
      SELECT g.gi, g.b, median(p.y - g.b * p.x) AS a
      FROM grid g, pts p
      GROUP BY g.gi, g.b
    ),
    loss AS (
      SELECT c.gi, c.b, c.a,
             CAST(SUM(CAST(abs(p.y - c.a - c.b * p.x) AS DECIMAL(38,15)))
                  AS DOUBLE) AS l1
      FROM cand c, pts p
      GROUP BY c.gi, c.b, c.a
    )
    SELECT gi AS grid_index,
           round(b, 6) AS slope,
           round(a, 6) AS intercept,
           round(l1, 4) AS l1_loss
    FROM loss
    ORDER BY l1, gi
    LIMIT 3
    """,
)
def q_lad_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-absolute-deviations line fit of extended price on quantity
    by deterministic grid search: 41 candidate slopes spanning
    0.5×..1.5× the OLS slope; for each, the L1-optimal intercept is the
    exact MEDIAN of (y − b·x), then one pass scores Σ|y − a − b·x|;
    top-3 candidates by loss. The median-based robust regression
    triangle closes: q_theil_sen_trend (median of slopes),
    q_ransac_line (consensus), and LAD (the actual L1 objective).

    Determinism: the grid derives from exact OLS moments; intercepts are
    exact medians; losses accumulate as DECIMAL(38,15); (loss, index)
    total order.

    Scale (median stage rewritten after the sf5 engine sweep OOMed it):
    ``F.median`` is an exact-percentile aggregate that BUFFERS every
    group value on-heap — 41 slopes × 30M rows = 1.2G doubles killed the
    executor at sf5. Exact medians now come from a weighted cumsum over
    the DISTINCT (x, y) domain: one groupBy compresses the fact table to
    its value domain (599,646 pairs on this corpus — identical at sf0.1
    and sf5, bounded by price×quantity cardinality, not row count), the
    41-slope grid expands only that, and a per-slope window cumsum of
    counts picks the two middle ranks (handles even n; sort-based, so it
    SPILLS instead of OOMing). The loss pass is a plain map-side-combined
    sum, never buffered. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    ols = pts.agg(
        (
            (
                F.count(F.lit(1)) * F.sum((F.col("x") * F.col("y")).cast(D15)).cast("double")
                - F.sum(F.col("x").cast(D15)).cast("double")
                * F.sum(F.col("y").cast(D15)).cast("double")
            )
            / (
                F.count(F.lit(1)) * F.sum((F.col("x") * F.col("x")).cast(D15)).cast("double")
                - F.sum(F.col("x").cast(D15)).cast("double")
                * F.sum(F.col("x").cast(D15)).cast("double")
            )
        ).alias("b_ols")
    )
    grid = (
        spark.range(_LAD_SLOPES)
        .select(F.col("id").alias("gi"))
        .crossJoin(F.broadcast(ols))
        .select(
            "gi",
            (F.col("b_ols") * (0.5 + F.col("gi").cast("double") / 40.0)).alias("b"),
        )
    )
    # r6 pass 13: the value-domain grid materializes once (it feeds the
    # median ranking AND, new, the loss pass); n = Σc is the same exact
    # integer as a third full count
    wpts = (
        pts.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = wpts.agg(F.sum("c").alias("n"))
    wv = Window.partitionBy("gi").orderBy("v")
    wrun = wv.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        wpts.crossJoin(F.broadcast(grid))
        .select(
            "gi", "b", "c", (F.col("y") - F.col("b") * F.col("x")).alias("v")
        )
        .withColumn("cum", F.sum("c").over(wrun))
        .withColumn("prev", F.col("cum") - F.col("c"))
        .crossJoin(F.broadcast(tot))
        .withColumn("p1", F.floor((F.col("n") + 1) / 2))
        .withColumn("p2", F.ceil((F.col("n") + 1) / 2))
    )
    hit = (F.col("prev") < F.col("p1")) & (F.col("p1") <= F.col("cum"))
    hit2 = (F.col("prev") < F.col("p2")) & (F.col("p2") <= F.col("cum"))
    # Even-n midpoint as lo + (hi-lo)/2 — the same interpolation form
    # DuckDB's median()/quantile uses — rather than (lo+hi)/2, which can
    # differ by 1 ULP in double arithmetic (odd n: hit == hit2, so
    # lo == hi and the expression collapses to the single middle value).
    _lo = F.sum(F.when(hit, F.col("v")).otherwise(F.lit(0.0)))
    _hi = F.sum(F.when(hit2, F.col("v")).otherwise(F.lit(0.0)))
    cand = (
        ranked.filter(hit | hit2)
        .groupBy("gi", "b")
        .agg((_lo + (_hi - _lo) / 2.0).alias("a"))
        .localCheckpoint(eager=True)
    )
    # r6 pass 13: the loss runs count-weighted on the distinct (x, y)
    # domain instead of 41× the raw fact rows — every row of a cell has
    # the identical |y−a−bx| double, and N copies of the same
    # DECIMAL(38,15) value sum to N×d, computed losslessly as
    # decimal(22,15) × decimal(15,0) = (38,15) (|term| < 10⁷ on this
    # price/quantity domain; c < 10¹⁵ at any conceivable scale). 41×6M
    # decimal rows → 41×|domain| (10× less at sf1: 22.7 → measured
    # below).
    loss = (
        wpts.crossJoin(F.broadcast(cand))
        .groupBy("gi", "b", "a")
        .agg(
            F.sum(
                F.abs(F.col("y") - F.col("a") - F.col("b") * F.col("x"))
                .cast("decimal(22,15)")
                * F.col("c").cast("decimal(15,0)")
            )
            .cast("double")
            .alias("l1")
        )
    )
    return (
        loss.select(
            F.col("gi").alias("grid_index"),
            F.round("b", 6).alias("slope"),
            F.round("a", 6).alias("intercept"),
            F.round("l1", 4).alias("l1_loss"),
        )
        .orderBy("l1_loss", "grid_index")
        .limit(3)
    )
