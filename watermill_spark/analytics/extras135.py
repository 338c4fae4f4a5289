"""Analytics batch 143: seasonal Mann–Kendall trend test, hierarchical
forecast reconciliation (bottom-up vs top-down), and a CausalImpact-lite
pre/post counterfactual.

Seasonal MK removes the weekly/annual cycle from the trend question by
comparing each calendar month only with the same month of other years;
reconciliation is the planning-hierarchy operator (nation forecasts must
sum to the region forecast — bottom-up vs proportional top-down, and the
gap between them is the coherence diagnostic); CausalImpact-lite
regresses a treated series on a control series pre-intervention and
scores the post-period divergence — the workhorse "did the launch move
revenue" estimator when an A/B split wasn't possible.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation/causal-family operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register


@register(
    "q_seasonal_mann_kendall",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
             CAST(month(l_shipdate) AS BIGINT) AS season,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1, 2
    ),
    s_k AS (
      SELECT a.season,
             CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s,
             CAST(MAX(cnt.n) AS BIGINT) AS n_k
      FROM monthly a
      JOIN monthly b ON b.season = a.season AND b.yr > a.yr
      JOIN (SELECT season, CAST(COUNT(*) AS BIGINT) AS n
            FROM monthly GROUP BY 1) cnt ON cnt.season = a.season
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(s) AS BIGINT) AS s_total,
             CAST(SUM(CAST(n_k * (n_k - 1) * (2 * n_k + 5) AS DOUBLE) / 18.0)
                  AS DOUBLE) AS var_s,
             CAST(COUNT(*) AS BIGINT) AS n_seasons
      FROM s_k
    )
    SELECT n_seasons, s_total,
           round(var_s, 6) AS var_s,
           round(CASE WHEN s_total > 0
                      THEN (s_total - 1.0) / sqrt(var_s)
                      WHEN s_total < 0
                      THEN (s_total + 1.0) / sqrt(var_s)
                      ELSE 0.0 END, 6) AS z_score,
           CASE WHEN abs(CASE WHEN s_total > 0
                              THEN (s_total - 1.0) / sqrt(var_s)
                              WHEN s_total < 0
                              THEN (s_total + 1.0) / sqrt(var_s)
                              ELSE 0.0 END) > 1.959964
                THEN 'trend' ELSE 'no-trend' END AS verdict
    FROM tot
    """,
)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann–Kendall trend test of monthly revenue: within each
    calendar month (season), S_k counts sign agreements between all
    year-pairs; the seasonal statistic S = ΣS_k is z-scored against
    Var = Σ n_k(n_k−1)(2n_k+5)/18 with continuity correction. January is
    only ever compared with other Januaries, so the annual cycle cannot
    masquerade as (or mask) a trend — the seasonal upgrade of
    q_mann_kendall.

    Determinism: monthly values are exact-decimal sums cast double, so
    sign comparisons are exact; S and n_k are integers; the variance
    combine is fixed-order double.

    Scale: facts collapse to the ≤(years×12)-row monthly grid; the
    within-season pair join is over that bounded grid only (whitelisted).
    §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.year("l_shipdate").cast("bigint").alias("yr"),
        F.month("l_shipdate").cast("bigint").alias("season"),
    ).agg(F.sum(dec("l_extendedprice")).cast("double").alias("y"))
    # checkpointed once (r6): both self-join sides and the per-season
    # count each re-derived the monthly rollup (3 lineitem scans in the
    # plan); the calendar-bounded year×month grid materializes once
    monthly = monthly.localCheckpoint(eager=True)
    a = monthly.select(
        F.col("season").alias("sa"), F.col("yr").alias("ya"), F.col("y").alias("va")
    )
    b = monthly.select(
        F.col("season").alias("sb"), F.col("yr").alias("yb"), F.col("y").alias("vb")
    )
    cnt = monthly.groupBy(F.col("season").alias("sc")).agg(bcount("n"))
    s_k = (
        a.join(
            F.broadcast(b),
            (F.col("sb") == F.col("sa")) & (F.col("yb") > F.col("ya")),
        )
        .join(F.broadcast(cnt), F.col("sc") == F.col("sa"))
        .groupBy("sa")
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s"),
            F.max("n").cast("bigint").alias("n_k"),
        )
    )
    nk = F.col("n_k")
    tot = s_k.agg(
        F.sum("s").cast("bigint").alias("s_total"),
        F.sum((nk * (nk - 1) * (2 * nk + 5)).cast("double") / 18.0)
        .cast("double")
        .alias("var_s"),
        bcount("n_seasons"),
    )
    st = F.col("s_total")
    z = (
        F.when(st > 0, (st - 1.0) / F.sqrt(F.col("var_s")))
        .when(st < 0, (st + 1.0) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return tot.select(
        "n_seasons",
        "s_total",
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("z_score"),
        F.when(F.abs(z) > 1.959964, F.lit("trend"))
        .otherwise(F.lit("no-trend"))
        .alias("verdict"),
    )


@register(
    "q_forecast_reconciliation",
    oracle="""
    WITH base AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             date_trunc('month', o.o_orderdate) AS ym,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2, 3
    ),
    nat AS (
      SELECT region, nation,
             CAST(COUNT(*) AS BIGINT) AS n,
             MAX(CASE WHEN ym = mn THEN y END) AS y_first,
             MAX(CASE WHEN ym = mx THEN y END) AS y_last,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS tot
      FROM (SELECT *, MIN(ym) OVER (PARTITION BY region, nation) AS mn,
                      MAX(ym) OVER (PARTITION BY region, nation) AS mx
            FROM base)
      GROUP BY 1, 2
    ),
    natf AS (
      SELECT region, nation, tot,
             y_last + (y_last - y_first) / (n - 1.0) AS f
      FROM nat
    ),
    reg AS (
      SELECT region,
             CAST(COUNT(*) AS BIGINT) AS n,
             MAX(CASE WHEN ym = mn THEN y END) AS y_first,
             MAX(CASE WHEN ym = mx THEN y END) AS y_last
      FROM (SELECT region, ym,
                   CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS y,
                   MIN(ym) OVER (PARTITION BY region) AS mn,
                   MAX(ym) OVER (PARTITION BY region) AS mx
            FROM base GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT nf.region,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           round(MAX(r.y_last + (r.y_last - r.y_first) / (r.n - 1.0)), 2)
             AS direct_forecast,
           round(CAST(SUM(CAST(nf.f AS DECIMAL(38,10))) AS DOUBLE), 2)
             AS bottom_up_forecast,
           round((CAST(SUM(CAST(nf.f AS DECIMAL(38,10))) AS DOUBLE)
                  - MAX(r.y_last + (r.y_last - r.y_first) / (r.n - 1.0)))
                 / MAX(r.y_last + (r.y_last - r.y_first) / (r.n - 1.0))
                 * 100.0, 4) + 0.0 AS coherence_gap_pct
    FROM natf nf JOIN reg r ON r.region = nf.region
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation diagnostic: drift forecasts
    (ŷ = y_last + (y_last−y_first)/(n−1)) for every nation's monthly
    order revenue and for each region's aggregate series, then per
    region the bottom-up forecast (Σ nation drifts) vs the direct
    regional drift and the coherence gap between them — the number a
    planning hierarchy must reconcile away (trace-minimization at full
    scale; the gap tells you how much the levels disagree).

    Determinism: monthly values and totals are exact-decimal sums; first
    /last month values select by equality with window MIN/MAX(ym); the
    drift formula is fixed-shape double math.

    Scale: one star join collapses facts to the (nation, month) grid;
    every window partitions by region/nation over that bounded grid.
    §2.B rollup family [NS].
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("ym"),
        )
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("y"))
    )
    # checkpointed once (r6): the nation and region series each
    # re-derived the 4-table star rollup (2 fact scans in the plan); the
    # ≤|nations|×|months| grid materializes once
    base = base.localCheckpoint(eager=True)
    wn = Window.partitionBy("region", "nation")
    nat = (
        base.select(
            "region",
            "nation",
            "ym",
            "y",
            F.min("ym").over(wn).alias("mn"),
            F.max("ym").over(wn).alias("mx"),
        )
        .groupBy("region", "nation")
        .agg(
            bcount("n"),
            F.max(F.when(F.col("ym") == F.col("mn"), F.col("y"))).alias("y_first"),
            F.max(F.when(F.col("ym") == F.col("mx"), F.col("y"))).alias("y_last"),
            F.sum(F.col("y").cast(D15)).cast("double").alias("tot"),
        )
    )
    natf = nat.select(
        "region",
        "nation",
        "tot",
        (
            F.col("y_last")
            + (F.col("y_last") - F.col("y_first")) / (F.col("n") - 1.0)
        ).alias("f"),
    )
    wr = Window.partitionBy("region")
    regm = base.groupBy("region", "ym").agg(
        F.sum(F.col("y").cast(D15)).cast("double").alias("y")
    )
    reg = (
        regm.select(
            "region",
            "ym",
            "y",
            F.min("ym").over(wr).alias("mn"),
            F.max("ym").over(wr).alias("mx"),
        )
        .groupBy("region")
        .agg(
            bcount("n"),
            F.max(F.when(F.col("ym") == F.col("mn"), F.col("y"))).alias("y_first"),
            F.max(F.when(F.col("ym") == F.col("mx"), F.col("y"))).alias("y_last"),
        )
        .select(
            F.col("region").alias("rr"),
            (
                F.col("y_last")
                + (F.col("y_last") - F.col("y_first")) / (F.col("n") - 1.0)
            ).alias("direct"),
        )
    )
    joined = natf.join(F.broadcast(reg), F.col("rr") == F.col("region"))
    bu = F.sum(F.col("f").cast("decimal(38,10)")).cast("double")
    return (
        joined.groupBy("region")
        .agg(
            bcount("n_nations"),
            F.round(F.max("direct"), 2).alias("direct_forecast"),
            F.round(bu, 2).alias("bottom_up_forecast"),
            # + 0.0 normalizes IEEE -0.0 (a rounded tiny negative gap) to
            # +0.0 so the hash matches DuckDB when the gap underflows zero
            (
                F.round((bu - F.max("direct")) / F.max("direct") * 100.0, 4)
                + F.lit(0.0)
            ).alias("coherence_gap_pct"),
        )
        .orderBy("region")
    )


@register(
    "q_causal_impact_lite",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click'
                      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
      HAVING SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
    ),
    idx AS (
      SELECT d, x, y,
             ROW_NUMBER() OVER (ORDER BY d) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    pre AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy
      FROM idx WHERE rn <= n / 2
    ),
    fit AS (
      SELECT np,
             (np * sxy - sx * sy) / (np * sxx - sx * sx) AS b,
             (sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx) / np AS a
      FROM pre
    ),
    prese AS (
      SELECT f.np, f.a, f.b,
             sqrt(CAST(SUM(CAST((i.y - f.a - f.b * i.x)
                               * (i.y - f.a - f.b * i.x)
                               AS DECIMAL(38,10))) AS DOUBLE)
                  / (f.np - 2)) AS s
      FROM idx i, fit f WHERE i.rn <= i.n / 2
      GROUP BY 1, 2, 3
    ),
    post AS (
      SELECT p.np, p.a, p.b, p.s,
             CAST(COUNT(*) AS BIGINT) AS n_post,
             CAST(SUM(CAST(i.y - p.a - p.b * i.x AS DECIMAL(38,10)))
                  AS DOUBLE) AS cum_effect,
             CAST(SUM(CAST(p.a + p.b * i.x AS DECIMAL(38,10))) AS DOUBLE)
               AS cum_pred
      FROM idx i, prese p WHERE i.rn > i.n / 2
      GROUP BY 1, 2, 3, 4
    )
    SELECT np AS n_pre, n_post,
           round(b, 6) AS beta,
           round(cum_effect, 4) AS cum_effect,
           round(cum_effect / cum_pred * 100.0, 4) AS rel_effect_pct,
           round(cum_effect / (s * sqrt(CAST(n_post AS DOUBLE))), 6)
             AS z_score
    FROM post
    """,
)
def q_causal_impact_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CausalImpact-lite: regress daily purchase value (treated) on daily
    click value (control) over the first half of the calendar (pre
    period), project the counterfactual into the second half, and report
    the cumulative effect Σ(y − ŷ), its size relative to the prediction,
    and z = cum/(s·√n_post) with s the pre-period residual sd — the
    launch-evaluation estimator when no holdout group exists, leaning on
    the control series to absorb seasonality.

    Determinism: the pre/post cut is the row-count midpoint of the day
    grid (integer); every sum (moments, residuals, effects) routes
    through DECIMAL; the OLS fit is fixed-order 1-row double math.

    Scale: one conditional-aggregation pass to the day grid; fit and
    scoring broadcast the 1-row model back onto the bounded grid
    (whitelisted). §2.B causal family [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", dec("value"))
            )
            .cast("double")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", dec("value"))
            )
            .cast("double")
            .alias("y"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "nx"
            ),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "ny"
            ),
        )
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
        .drop("nx", "ny")
    )
    # checkpointed once (r6): the pre fit, the residual sd, and the post
    # scoring each re-derived the ranked day grid from the events scan
    # (3 fact scans in the plan); the ≤|days| grid materializes once
    idx = daily.select(
        "d",
        "x",
        "y",
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    ).localCheckpoint(eager=True)
    pre_rows = idx.filter(F.col("rn") <= F.col("n") / 2)
    pre = pre_rows.agg(
        bcount("np"),
        F.sum(F.col("x").cast(D15)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(D15)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxy"),
    )
    npd = F.col("np")
    bexp = (npd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        npd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = pre.select(
        "np", bexp.alias("b"), ((F.col("sy") - bexp * F.col("sx")) / npd).alias("a")
    )
    resid = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    prese = (
        pre_rows.crossJoin(F.broadcast(fit))
        .groupBy("np", "a", "b")
        .agg(
            F.sqrt(
                F.sum((resid * resid).cast("decimal(38,10)")).cast("double")
                / (F.col("np") - 2)
            ).alias("s")
        )
    )
    post = (
        idx.filter(F.col("rn") > F.col("n") / 2)
        .crossJoin(F.broadcast(prese))
        .groupBy("np", "a", "b", "s")
        .agg(
            bcount("n_post"),
            F.sum(resid.cast("decimal(38,10)")).cast("double").alias("cum_effect"),
            F.sum((F.col("a") + F.col("b") * F.col("x")).cast("decimal(38,10)"))
            .cast("double")
            .alias("cum_pred"),
        )
    )
    return post.select(
        F.col("np").alias("n_pre"),
        "n_post",
        F.round("b", 6).alias("beta"),
        F.round("cum_effect", 4).alias("cum_effect"),
        F.round(F.col("cum_effect") / F.col("cum_pred") * 100.0, 4).alias(
            "rel_effect_pct"
        ),
        F.round(
            F.col("cum_effect")
            / (F.col("s") * F.sqrt(F.col("n_post").cast("double"))),
            6,
        ).alias("z_score"),
    )
