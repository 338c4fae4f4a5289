"""Analytics batch 132: attribute (p) control chart, extended
association-rule metrics, and the turning-points randomness test.

The p-chart is the attribute-data member of the control-chart family
(q_xmr_control_chart tracks a continuous measure, q_ewma_control_chart
drift; the p-chart tracks a DAILY PROPORTION with binomial 3σ limits
that widen on low-volume days). Leverage, conviction and Zhang's metric
complete the rule-quality vocabulary beyond lift — each fixes a known
lift pathology (lift ignores absolute impact; conviction handles
directionality; Zhang's is bounded and contrasts association with
disassociation). The turning-points test is the classic quick
randomness check on a series — too few local extrema means trend, too
many means negative autocorrelation — complementing q_runs_test (signs)
and q_ljung_box (correlogram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_p_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    pbar AS (
      SELECT CAST(SUM(x) AS DOUBLE) / SUM(n) AS pb FROM daily
    )
    SELECT d.d AS day, d.n AS n_events,
           round(CAST(d.x AS DOUBLE) / d.n, 6) AS p,
           round(p.pb, 6) AS p_bar,
           round(GREATEST(p.pb - 3.0 * sqrt(p.pb * (1.0 - p.pb) / d.n), 0.0),
                 6) AS lcl,
           round(LEAST(p.pb + 3.0 * sqrt(p.pb * (1.0 - p.pb) / d.n), 1.0), 6)
             AS ucl,
           CASE WHEN CAST(d.x AS DOUBLE) / d.n
                     > LEAST(p.pb + 3.0 * sqrt(p.pb * (1.0 - p.pb) / d.n), 1.0)
                 OR CAST(d.x AS DOUBLE) / d.n
                     < GREATEST(p.pb - 3.0 * sqrt(p.pb * (1.0 - p.pb) / d.n),
                                0.0)
                THEN 1 ELSE 0 END AS out_of_control
    FROM daily d, pbar p
    ORDER BY day
    """,
)
def q_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute (p) control chart of the daily error proportion:
    centerline p̄ = pooled error share, per-day 3σ binomial limits
    p̄ ± 3·√(p̄(1−p̄)/nᵢ) clamped to [0,1] — the limits WIDEN on
    low-volume days, which is exactly what a fixed-threshold alert gets
    wrong. Completes the SPC family: q_xmr_control_chart (individuals),
    q_ewma_control_chart (drift), q_process_capability (specs), p-chart
    (proportions).

    Determinism: counts are integers; p̄ and limits are closed-form
    double; output keyed by day.

    Scale: one day rollup + 1-row centerline broadcast. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        bcount("n"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the center line and the per-day limits
    # both re-derived the rollup (2 events scans in the plan); the
    # calendar-bounded day grid materializes once
    pbar = daily.agg(
        (F.sum("x").cast("double") / F.sum("n")).alias("pb")
    )
    joined = daily.crossJoin(F.broadcast(pbar))
    p = F.col("x").cast("double") / F.col("n")
    half = 3.0 * F.sqrt(F.col("pb") * (1.0 - F.col("pb")) / F.col("n"))
    lcl = F.greatest(F.col("pb") - half, F.lit(0.0))
    ucl = F.least(F.col("pb") + half, F.lit(1.0))
    return joined.select(
        F.col("d").alias("day"),
        F.col("n").alias("n_events"),
        F.round(p, 6).alias("p"),
        F.round("pb", 6).alias("p_bar"),
        F.round(lcl, 6).alias("lcl"),
        F.round(ucl, 6).alias("ucl"),
        F.when((p > ucl) | (p < lcl), 1).otherwise(0).alias("out_of_control"),
    ).orderBy("day")


@register(
    "q_rule_metrics_extended",
    oracle="""
    WITH baskets AS MATERIALIZED (
      SELECT o.o_custkey AS u, p.p_brand AS i
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    nu AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n FROM baskets),
    supp AS MATERIALIZED (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM baskets GROUP BY 1
    ),
    pair AS (
      SELECT a.i AS ante, b.i AS cons, CAST(COUNT(*) AS BIGINT) AS cab
      FROM baskets a JOIN baskets b ON b.u = a.u AND a.i <> b.i
      GROUP BY 1, 2
    ),
    metrics AS (
      SELECT p.ante, p.cons, p.cab, sa.c AS ca, sc.c AS cc, n.n,
             CAST(p.cab AS DOUBLE) / sa.c AS conf,
             CAST(p.cab AS DOUBLE) / n.n
               - CAST(sa.c AS DOUBLE) * sc.c / (CAST(n.n AS DOUBLE) * n.n)
               AS leverage,
             CASE WHEN p.cab < sa.c
                  THEN (1.0 - CAST(sc.c AS DOUBLE) / n.n)
                       / (1.0 - CAST(p.cab AS DOUBLE) / sa.c)
                  ELSE NULL END AS conviction
      FROM pair p
      JOIN supp sa ON sa.i = p.ante
      JOIN supp sc ON sc.i = p.cons, nu n
    )
    SELECT ante, cons, cab AS support_count,
           round(conf, 6) AS confidence,
           round(leverage, 8) AS leverage,
           round(conviction, 6) AS conviction,
           round((conf - CAST(cc AS DOUBLE) / n)
                 / GREATEST(conf, CAST(cc AS DOUBLE) / n), 6)
             AS zhangs_metric
    FROM metrics
    WHERE cab >= 20
    ORDER BY leverage DESC, ante, cons
    LIMIT 15
    """,
)
def q_rule_metrics_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended association-rule metrics for brand pairs (ante → cons over
    customer baskets): confidence, LEVERAGE (P(ab) − P(a)P(b): absolute
    extra co-occurrence mass — lift-large-but-tiny rules vanish here),
    CONVICTION ((1−P(b))/(1−conf): directional, ∞ for implications,
    NULL at conf=1), and ZHANG's metric ((conf − P(b))/max(conf, P(b)):
    bounded ±1, negative = disassociation). Ranks by leverage —
    the actionability fix for q_brand_affinity_lift / q_assoc_rules_types'
    lift ranking.

    Determinism: all counts exact; metrics are closed-form double with
    explicit NULL at the conviction pole; (leverage desc, pair) order.

    Scale: the pair join keys on customer (≤25 brands per user — the
    q_slope_one bound); support tables broadcast. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    baskets = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("o_custkey").alias("u"), F.col("p_brand").alias("i"))
        .distinct()
    )
    # checkpointed once (r6): the nu count, supp, and both pair-join
    # sides each re-derived the 3-table fact join (4 fact scans in the
    # plan); the ≤|customers|×|brands| incidence grid materializes once
    # (same class as the pass-3 per-user grids)
    baskets = baskets.localCheckpoint(eager=True)
    nu = baskets.select("u").distinct().count()
    supp = baskets.groupBy("i").agg(bcount("c"))
    a = baskets.select("u", F.col("i").alias("ante"))
    b = baskets.select(F.col("u").alias("ub"), F.col("i").alias("cons"))
    pair = (
        a.join(b, (F.col("ub") == F.col("u")) & (F.col("ante") != F.col("cons")))
        .groupBy("ante", "cons")
        .agg(bcount("cab"))
    )
    metrics = (
        pair.join(
            F.broadcast(supp.select(F.col("i").alias("ante"), F.col("c").alias("ca"))),
            "ante",
        )
        .join(
            F.broadcast(supp.select(F.col("i").alias("cons"), F.col("c").alias("cc"))),
            "cons",
        )
    )
    n_d = float(nu)
    conf = F.col("cab").cast("double") / F.col("ca")
    pb = F.col("cc").cast("double") / n_d
    leverage = F.col("cab").cast("double") / n_d - F.col("ca").cast(
        "double"
    ) * F.col("cc") / (n_d * n_d)
    conviction = F.when(
        F.col("cab") < F.col("ca"),
        (1.0 - pb) / (1.0 - conf),
    ).otherwise(F.lit(None).cast("double"))
    zhang = (conf - pb) / F.greatest(conf, pb)
    return (
        metrics.filter(F.col("cab") >= 20)
        .select(
            "ante",
            "cons",
            F.col("cab").alias("support_count"),
            F.round(conf, 6).alias("confidence"),
            F.round(leverage, 8).alias("leverage"),
            F.round(conviction, 6).alias("conviction"),
            F.round(zhang, 6).alias("zhangs_metric"),
        )
        .orderBy(F.desc("leverage"), F.asc("ante"), F.asc("cons"))
        .limit(15)
    )


@register(
    "q_turning_points_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    tri AS (
      SELECT y,
             lag(y) OVER (ORDER BY d) AS yl,
             lead(y) OVER (ORDER BY d) AS yr
      FROM daily
    ),
    tp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_inner,
             CAST(SUM(CASE WHEN (y > yl AND y > yr)
                             OR (y < yl AND y < yr)
                           THEN 1 ELSE 0 END) AS BIGINT) AS t
      FROM tri WHERE yl IS NOT NULL AND yr IS NOT NULL
    )
    SELECT n_inner + 2 AS n_days, t AS turning_points,
           round(2.0 * (n_inner + 2 - 2) / 3.0, 6) AS expected_tp,
           round(sqrt((16.0 * (n_inner + 2) - 29.0) / 90.0), 6) AS sd_tp,
           round((t - 2.0 * (n_inner + 2 - 2) / 3.0)
                 / sqrt((16.0 * (n_inner + 2) - 29.0) / 90.0), 6) AS z
    FROM tp
    """,
)
def q_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test on daily revenue: count strict local
    maxima/minima T among interior days; under i.i.d. randomness
    E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90, z = (T−E)/√Var.
    Too few turning points ⇒ trend/persistence, too many ⇒
    oscillation/negative autocorrelation — the 30-second randomness
    triage before reaching for q_runs_test (sign runs), q_ljung_box
    (correlogram) or q_mann_kendall (monotone trend).

    Determinism: daily sums are exact decimals; comparisons of identical
    doubles; counts are integers.

    Scale: one day rollup + one lag/lead window over the bounded grid.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(dec("value")).cast("double").alias("y")
    )
    w = Window.orderBy("d")
    tri = daily.select(
        "y", F.lag("y").over(w).alias("yl"), F.lead("y").over(w).alias("yr")
    )
    tp = tri.filter(F.col("yl").isNotNull() & F.col("yr").isNotNull()).agg(
        bcount("n_inner"),
        F.sum(
            F.when(
                ((F.col("y") > F.col("yl")) & (F.col("y") > F.col("yr")))
                | ((F.col("y") < F.col("yl")) & (F.col("y") < F.col("yr"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("t"),
    )
    n = F.col("n_inner") + 2
    e_t = 2.0 * (n - 2) / 3.0
    sd_t = F.sqrt((16.0 * n - 29.0) / 90.0)
    return tp.select(
        n.alias("n_days"),
        F.col("t").alias("turning_points"),
        F.round(e_t, 6).alias("expected_tp"),
        F.round(sd_t, 6).alias("sd_tp"),
        F.round((F.col("t") - e_t) / sd_t, 6).alias("z"),
    )
