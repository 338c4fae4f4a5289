"""Analytics batch 160: placebo cut-point sweep, difference-in-
differences, and an event study with cumulative abnormal revenue.

Three causal-inference operators that complete the family
(q_causal_impact_lite, q_regression_discontinuity, q_ipw_ate,
q_iv_wald_estimator): the placebo sweep re-runs the pre/post
counterfactual at five fake intervention points — if the "real" cut's
z-score doesn't dominate the placebos, the effect is an artifact (the
robustness check reviewers ask for first); DiD is the canonical
two-group two-period estimator; the event study measures abnormal
daily revenue around the corpus's peak day against a pre-event
baseline, with the CAR t-statistic.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation/causal families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue


@register(
    "q_placebo_cutpoints",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click'
                      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
               AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
               AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
      HAVING SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
    ),
    idx AS (
      SELECT x, y,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    cuts AS (SELECT CAST(c AS DOUBLE) AS cut
             FROM (VALUES (0.3), (0.4), (0.5), (0.6), (0.7)) AS v(c)),
    tagged AS (
      SELECT c.cut, i.x, i.y,
             CASE WHEN i.rn <= CAST(FLOOR(i.n * c.cut) AS BIGINT)
                  THEN 1 ELSE 0 END AS pre
      FROM idx i, cuts c
    ),
    mom AS (
      SELECT cut,
             CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy
      FROM tagged WHERE pre = 1 GROUP BY 1
    ),
    fit AS (
      SELECT cut, np,
             (np * sxy - sx * sy) / (np * sxx - sx * sx) AS b,
             (sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx) / np
               AS a
      FROM mom
    ),
    prese AS (
      SELECT t.cut, f.np, f.a, f.b,
             sqrt(CAST(SUM(CAST((t.y - f.a - f.b * t.x)
                               * (t.y - f.a - f.b * t.x)
                               AS DECIMAL(38,10))) AS DOUBLE)
                  / (f.np - 2)) AS s
      FROM tagged t JOIN fit f ON f.cut = t.cut
      WHERE t.pre = 1
      GROUP BY 1, 2, 3, 4
    ),
    post AS (
      SELECT t.cut, p.np,
             CAST(COUNT(*) AS BIGINT) AS n_post,
             CAST(SUM(CAST(t.y - p.a - p.b * t.x AS DECIMAL(38,10)))
                  AS DOUBLE) AS cum_effect,
             MAX(p.s) AS s
      FROM tagged t JOIN prese p ON p.cut = t.cut
      WHERE t.pre = 0
      GROUP BY 1, 2
    )
    SELECT cut AS cut_frac, np AS n_pre, n_post,
           round(cum_effect, 4) AS cum_effect,
           round(cum_effect / (s * sqrt(CAST(n_post AS DOUBLE))), 6)
             AS z_score
    FROM post ORDER BY cut
    """,
)
def q_placebo_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Placebo sweep for the q_causal_impact_lite counterfactual: the
    same pre-period OLS (purchases on clicks) and post-period
    cumulative-effect z-score evaluated at five cut fractions
    (0.3..0.7) — if the claimed intervention's z does not dominate the
    placebo cuts, the "effect" is trend artifact, not causality. One
    query fits all five models by grouping every stage on the cut key.

    Determinism: fixed integer cut boundaries (floor(n·c)); all
    moments and residual sums route through DECIMAL; the z is a fixed
    double expression.

    Scale: the 5-row cut dimension broadcast onto the bounded day grid
    (whitelisted); each stage is an equi-join/groupBy on the cut key —
    the 5 models share one plan instead of five sequential fits. §2.B
    causal family [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", dec("value")))
            .cast("double")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", dec("value")))
            .cast("double")
            .alias("y"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "nx"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("ny"),
        )
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
        .drop("nx", "ny")
    )
    # checkpointed once (r6): the fit, pre-SE and post passes each
    # re-derived the fact rollup (3 events scans in the plan); the
    # calendar-bounded day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    idx = daily.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    cuts = spark.createDataFrame(
        [(0.3,), (0.4,), (0.5,), (0.6,), (0.7,)], "cut double"
    )
    tagged = idx.crossJoin(F.broadcast(cuts)).select(
        "cut",
        "x",
        "y",
        F.when(
            F.col("rn") <= F.floor(F.col("n") * F.col("cut")).cast("bigint"), 1
        )
        .otherwise(0)
        .alias("pre"),
    )
    mom = (
        tagged.filter(F.col("pre") == 1)
        .groupBy("cut")
        .agg(
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
    )
    b = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mom.select(
        "cut",
        "np",
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("np")).alias("a"),
    )
    resid = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    prese = (
        tagged.filter(F.col("pre") == 1)
        .join(F.broadcast(fit), "cut")
        .groupBy("cut", "np", "a", "b")
        .agg(
            F.sqrt(
                F.sum((resid * resid).cast("decimal(38,10)")).cast("double")
                / (F.col("np") - 2)
            ).alias("s")
        )
    )
    post = (
        tagged.filter(F.col("pre") == 0)
        .join(F.broadcast(prese), "cut")
        .groupBy("cut", "np")
        .agg(
            bcount("n_post"),
            F.sum(resid.cast("decimal(38,10)")).cast("double").alias(
                "cum_effect"
            ),
            F.max("s").alias("s"),
        )
    )
    return post.select(
        F.col("cut").alias("cut_frac"),
        F.col("np").alias("n_pre"),
        "n_post",
        F.round("cum_effect", 4).alias("cum_effect"),
        F.round(
            F.col("cum_effect")
            / (F.col("s") * F.sqrt(F.col("n_post").cast("double"))),
            6,
        ).alias("z_score"),
    ).orderBy("cut_frac")


@register(
    "q_difference_in_differences",
    oracle="""
    WITH rng AS (
      SELECT CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE) AS lo,
             CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE)
             + CAST(FLOOR(date_diff('day',
                     MIN(CAST(o_orderdate AS DATE)),
                     MAX(CAST(o_orderdate AS DATE))) / 2.0)
                    AS INTEGER) * INTERVAL 1 DAY AS cut
      FROM orders
    ),
    cells AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS treated,
             CASE WHEN CAST(o.o_orderdate AS DATE) > r.cut
                  THEN 1 ELSE 0 END AS post,
             CAST(o.o_totalprice AS DECIMAL(18,6)) AS v
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey, rng r
    ),
    mm AS (
      SELECT treated, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_v
      FROM cells GROUP BY 1, 2
    )
    SELECT
      MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t_pre,
      MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t_post,
      round(MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_v END), 4)
        AS mean_t_pre,
      round(MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_v END), 4)
        AS mean_t_post,
      round(MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_v END), 4)
        AS mean_c_pre,
      round(MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_v END), 4)
        AS mean_c_post,
      round((MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_v END)
             - MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_v END))
            - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_v END)
               - MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_v END)),
            4) AS did_estimate
    FROM mm
    """,
)
def q_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on average order value: BUILDING-
    segment customers are the "treated" group, the calendar midpoint
    the treatment date; DiD = (T̄post − T̄pre) − (C̄post − C̄pre)
    removes both the group level difference and the shared time shock —
    the canonical two-group two-period causal estimator, reported with
    all four cell means so the parallel-trends eyeball check is
    possible.

    Determinism: the cut is integer date arithmetic on min/max; cell
    means are exact decimal sums / integer counts.

    Scale: one fact pass with a broadcast customer-dimension join and a
    1-row date-range broadcast (whitelisted); the 4-cell rollup pivots
    in a single aggregate. §2.B causal family [NS].
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    rng = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    ).select(
        F.date_add(
            F.col("lo"),
            F.floor(F.datediff("hi", "lo") / 2.0).cast("int"),
        ).alias("cut")
    )
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(rng))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("treated"),
            F.when(F.col("o_orderdate").cast("date") > F.col("cut"), 1)
            .otherwise(0)
            .alias("post"),
            dec("o_totalprice").alias("v"),
        )
    )
    mm = cells.groupBy("treated", "post").agg(
        bcount("n"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_v"),
    )

    def cell(t: int, p: int, col: str):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    return mm.agg(
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        F.round(cell(1, 0, "mean_v"), 4).alias("mean_t_pre"),
        F.round(cell(1, 1, "mean_v"), 4).alias("mean_t_post"),
        F.round(cell(0, 0, "mean_v"), 4).alias("mean_c_pre"),
        F.round(cell(0, 1, "mean_v"), 4).alias("mean_c_post"),
        F.round(
            (cell(1, 1, "mean_v") - cell(1, 0, "mean_v"))
            - (cell(0, 1, "mean_v") - cell(0, 0, "mean_v")),
            4,
        ).alias("did_estimate"),
    )


@register(
    "q_event_study_car",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    ev AS (
      SELECT d AS ed FROM daily ORDER BY y DESC, d LIMIT 1
    ),
    est AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(dy.y AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(dy.y * dy.y AS DECIMAL(38,10))) AS DOUBLE)
               AS ss
      FROM daily dy, ev
      WHERE dy.d <= ev.ed - INTERVAL 10 DAY
    ),
    base AS (
      SELECT n, s / n AS mu,
             sqrt((ss - s * s / n) / (n - 1.0)) AS sd
      FROM est
    ),
    win AS (
      SELECT CAST(date_diff('day', ev.ed, dy.d) AS BIGINT) AS offset_d,
             dy.y
      FROM daily dy, ev
      WHERE dy.d BETWEEN ev.ed - INTERVAL 5 DAY
                     AND ev.ed + INTERVAL 5 DAY
    )
    SELECT w.offset_d,
           round(w.y, 4) AS revenue,
           round(w.y - b.mu, 4) AS abnormal,
           round(CAST(SUM(CAST(w.y - b.mu AS DECIMAL(38,10)))
                 OVER (ORDER BY w.offset_d ROWS UNBOUNDED PRECEDING)
                 AS DOUBLE), 4) AS car,
           round(CAST(SUM(CAST(w.y - b.mu AS DECIMAL(38,10)))
                 OVER (ORDER BY w.offset_d ROWS UNBOUNDED PRECEDING)
                 AS DOUBLE)
                 / (b.sd * sqrt(CAST(ROW_NUMBER()
                    OVER (ORDER BY w.offset_d) AS DOUBLE))), 6)
             AS car_t
    FROM win w, base b
    ORDER BY w.offset_d
    """,
)
def q_event_study_car(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event study around the corpus's peak-revenue day: the
    estimation window (all days up to event−10) yields the baseline
    mean and sd; the event window (event±5 days) reports daily
    abnormal revenue, the cumulative abnormal revenue (CAR), and the
    CAR t-statistic CAR/(sd·√k) — the standard "did the event move the
    series beyond its normal noise?" panel from empirical finance,
    applied to an operational series.

    Determinism: the event day is max-revenue with a date tiebreak
    selected on unrounded values; baseline moments are decimal-exact;
    the CAR prefix sum accumulates through DECIMAL.

    Scale: facts collapse to the day grid; the event date and baseline
    are 1-row broadcasts (whitelisted); the ±5 window is 11 rows. §2.B
    window/causal family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    # checkpointed once (r6): the event-day probe, the estimation-window
    # moments, and the event-window slice each re-derived the fact rollup
    # (4 lineitem scans in the plan); the calendar-bounded day grid
    # materializes once
    daily = daily.localCheckpoint(eager=True)
    ev = daily.orderBy(F.col("y").desc(), "d").limit(1).select(
        F.col("d").alias("ed")
    )
    est = (
        daily.crossJoin(F.broadcast(ev))
        .filter(F.col("d") <= F.date_sub(F.col("ed"), 10))
        .agg(
            bcount("n"),
            F.sum(F.col("y").cast(D15)).cast("double").alias("s"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
            .cast("double")
            .alias("ss"),
        )
    )
    base = est.select(
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1.0)
        ).alias("sd"),
    )
    win = (
        daily.crossJoin(F.broadcast(ev))
        .filter(
            (F.col("d") >= F.date_sub(F.col("ed"), 5))
            & (F.col("d") <= F.date_add(F.col("ed"), 5))
        )
        .select(F.datediff("d", "ed").cast("bigint").alias("offset_d"), "y")
    )
    wc = Window.orderBy("offset_d").rowsBetween(Window.unboundedPreceding, 0)
    car = (
        F.sum((F.col("y") - F.col("mu")).cast("decimal(38,10)"))
        .over(wc)
        .cast("double")
    )
    return (
        win.crossJoin(F.broadcast(base))
        .select(
            "offset_d",
            F.round("y", 4).alias("revenue"),
            F.round(F.col("y") - F.col("mu"), 4).alias("abnormal"),
            F.round(car, 4).alias("car"),
            F.round(
                car
                / (
                    F.col("sd")
                    * F.sqrt(
                        F.row_number()
                        .over(Window.orderBy("offset_d"))
                        .cast("double")
                    )
                ),
                6,
            ).alias("car_t"),
        )
        .orderBy("offset_d")
    )
