"""Analytics batch 173: Lorenz asymmetry, price stickiness, and the
ACF with significance bands.

Lorenz asymmetry answers the question Gini can't: the SAME Gini can
come from many-small-customers or few-giant-customers, and S ≷ 1
distinguishes them (it decides whether growth policy targets the tail
or the head). Price stickiness is the classic macro/pricing
micro-metric — how often do realized prices actually change, and what
is the implied price-spell duration. The ACF panel upgrades the lag-1
q_hourly_autocorr to the full correlogram with ±1.96/√n Bartlett
bands — the figure every time-series model choice starts from.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue

_ACF_L = 20


@register(
    "q_lorenz_asymmetry",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY y, o_custkey) AS BIGINT)
               AS r,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,10))) OVER () AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(y AS DECIMAL(38,10)))
                  OVER (ORDER BY y, o_custkey ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE) AS cy
      FROM spend
    ),
    mu AS (SELECT MAX(sy / n) AS m FROM ranked),
    below AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS mcnt,
             CAST(MAX(cy) AS DOUBLE) AS cum_below,
             CAST(MAX(y) AS DOUBLE) AS y_m
      FROM ranked, mu WHERE y < mu.m
    ),
    nxt AS (
      SELECT MIN(y) AS y_m1 FROM ranked, mu WHERE y >= mu.m
    )
    SELECT (SELECT MAX(n) FROM ranked) AS n_customers,
           round((SELECT m FROM mu), 4) AS mean_spend,
           round((b.mcnt + ((SELECT m FROM mu) - b.y_m)
                           / (x.y_m1 - b.y_m))
                 / (SELECT MAX(n) FROM ranked), 6) AS f_mu,
           round((b.cum_below + ((SELECT m FROM mu) - b.y_m)
                                / (x.y_m1 - b.y_m) * x.y_m1)
                 / (SELECT MAX(sy) FROM ranked), 6) AS l_mu,
           round((b.mcnt + ((SELECT m FROM mu) - b.y_m)
                           / (x.y_m1 - b.y_m))
                 / (SELECT MAX(n) FROM ranked)
                 + (b.cum_below + ((SELECT m FROM mu) - b.y_m)
                                  / (x.y_m1 - b.y_m) * x.y_m1)
                   / (SELECT MAX(sy) FROM ranked), 6)
             AS lorenz_asymmetry
    FROM below b, nxt x
    """,
)
def q_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz asymmetry coefficient of customer spend: S = F(μ) + L(μ)
    with F the population share below the mean and L the spend share
    below the mean (linear interpolation at the crossing point,
    Damgaard-Weiner) — S < 1 means inequality is driven by many small
    customers, S > 1 by a few giants; the same Gini
    (q_gini_customer_spend) can hide either regime, and which one it
    is decides where growth effort goes.

    Determinism: ranks carry custkey tiebreaks; cumulative spend is a
    decimal-exact prefix window; the interpolation is fixed double
    arithmetic on exact rank-selected values.

    Scale: one fact rollup to the customer grain + one ordered window;
    the crossing-point aggregates are 1-row (whitelisted broadcast
    shape). §2.B window family [NS].
    """
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("y")
    )
    wr = Window.orderBy("y", "o_custkey")
    wall = Window.partitionBy()
    ranked = spend.select(
        "y",
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum(F.col("y").cast("decimal(38,10)"))
        .over(wall)
        .cast("double")
        .alias("sy"),
        F.sum(F.col("y").cast("decimal(38,10)"))
        .over(wr.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("cy"),
    ).localCheckpoint(eager=True)
    mu = ranked.agg(F.max(F.col("sy") / F.col("n")).alias("m"))
    below = (
        ranked.crossJoin(F.broadcast(mu))
        .filter(F.col("y") < F.col("m"))
        .agg(
            bcount("mcnt"),
            F.max("cy").alias("cum_below"),
            F.max("y").alias("y_m"),
        )
    )
    nxt = (
        ranked.crossJoin(F.broadcast(mu))
        .filter(F.col("y") >= F.col("m"))
        .agg(F.min("y").alias("y_m1"))
    )
    tots = ranked.agg(
        F.max("n").alias("n_customers"), F.max("sy").alias("sy")
    )
    delta = (F.col("m") - F.col("y_m")) / (F.col("y_m1") - F.col("y_m"))
    f_mu = (F.col("mcnt") + delta) / F.col("n_customers")
    l_mu = (F.col("cum_below") + delta * F.col("y_m1")) / F.col("sy")
    return (
        below.crossJoin(F.broadcast(nxt))
        .crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(tots))
        .select(
            "n_customers",
            F.round("m", 4).alias("mean_spend"),
            F.round(f_mu, 6).alias("f_mu"),
            F.round(l_mu, 6).alias("l_mu"),
            F.round(f_mu + l_mu, 6).alias("lorenz_asymmetry"),
        )
    )


@register(
    "q_price_stickiness",
    oracle="""
    WITH pm AS (
      SELECT l_partkey, CAST(date_trunc('month', l_shipdate) AS DATE)
               AS ym,
             round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                        AS DOUBLE)
                   / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                          AS DOUBLE), 2) AS price
      FROM lineitem GROUP BY 1, 2
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 0
    ),
    trans AS (
      SELECT l_partkey, price,
             LAG(price) OVER (PARTITION BY l_partkey ORDER BY ym)
               AS prev
      FROM pm
    ),
    moves AS (
      SELECT l_partkey,
             CASE WHEN price <> prev THEN 1 ELSE 0 END AS changed
      FROM trans WHERE prev IS NOT NULL
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_trans,
             CAST(SUM(changed) AS BIGINT) AS n_changes
      FROM moves GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(n_trans) AS BIGINT) AS n_transitions,
           round(CAST(SUM(n_changes) AS DOUBLE) / SUM(n_trans), 6)
             AS change_frequency,
           round(1.0 / (CAST(SUM(n_changes) AS DOUBLE) / SUM(n_trans)),
                 4) AS implied_duration_months,
           round(CAST(SUM(CASE WHEN n_changes = 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 100.0, 4)
             AS never_changed_pct
    FROM per_part
    """,
)
def q_price_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price stickiness of realized part prices: monthly effective unit
    price (rounded to cents — the observable price), month-over-month
    change frequency across all parts, the implied mean price-spell
    duration 1/freq (the Calvo-style summary), and the share of parts
    whose price never moved — the pricing-dynamics metric behind
    inflation microdata studies, on order data.

    Determinism: prices are decimal-exact ratios rounded to cents
    BEFORE comparison (so "change" is well-defined identically on both
    engines); counts are integers.

    Scale: fact → (part, month) rollup, a per-part lag window
    (parallel across parts), and a 1-row summary. §2.B window family
    [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    pm = (
        li.groupBy(
            "l_partkey",
            F.date_trunc("month", "l_shipdate").cast("date").alias("ym"),
        )
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("rev"),
            F.sum(dec("l_quantity")).cast("double").alias("qty"),
        )
        .filter(F.col("qty") > 0)
        .select(
            "l_partkey",
            "ym",
            F.round(F.col("rev") / F.col("qty"), 2).alias("price"),
        )
    )
    trans = pm.select(
        "l_partkey",
        "price",
        F.lag("price")
        .over(Window.partitionBy("l_partkey").orderBy("ym"))
        .alias("prev"),
    ).filter(F.col("prev").isNotNull())
    moves = trans.select(
        "l_partkey",
        F.when(F.col("price") != F.col("prev"), 1).otherwise(0).alias("changed"),
    )
    per_part = moves.groupBy("l_partkey").agg(
        bcount("n_trans"), F.sum("changed").cast("bigint").alias("n_changes")
    )
    freq = F.sum("n_changes").cast("double") / F.sum("n_trans")
    return per_part.agg(
        bcount("n_parts"),
        F.sum("n_trans").cast("bigint").alias("n_transitions"),
        F.round(freq, 6).alias("change_frequency"),
        F.round(1.0 / freq, 4).alias("implied_duration_months"),
        F.round(
            F.sum(F.when(F.col("n_changes") == 0, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1))
            * 100.0,
            4,
        ).alias("never_changed_pct"),
    )


@register(
    "q_acf_significance",
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
    g0 AS (
      SELECT CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS g
      FROM e
    ),
    lags AS (SELECT CAST(l AS BIGINT) AS lag
             FROM generate_series(1, {_ACF_L}) AS t(l)),
    gl AS (
      SELECT g.lag,
             CAST(SUM(CAST(a.e * b.e AS DECIMAL(38,10))) AS DOUBLE)
               AS gsum,
             MAX(a.n) AS n
      FROM lags g
      JOIN e a ON TRUE
      JOIN e b ON b.rn = a.rn - g.lag
      GROUP BY 1
    )
    SELECT gl.lag,
           round(gl.gsum / (SELECT g FROM g0), 6) AS acf,
           round(1.96 / sqrt(CAST(gl.n AS DOUBLE)), 6) AS band,
           CAST(abs(gl.gsum / (SELECT g FROM g0))
                > 1.96 / sqrt(CAST(gl.n AS DOUBLE)) AS BOOLEAN)
             AS significant
    FROM gl ORDER BY gl.lag
    """,
)
def q_acf_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue, lags 1..20, with the
    ±1.96/√n white-noise band — the correlogram every ARIMA order
    choice starts from (weekly seasonality appears as spikes at 7 and
    14), upgrading the lag-1 q_hourly_autocorr and complementing
    q_pacf_durbin_levinson with the significance verdicts.

    Determinism: autocovariances are decimal-exact sums over the
    rn-lag equi-join (the q_ccf_lead_lag shape), all normalized by the
    same decimal-exact γ₀.

    Scale: facts collapse to the day grid; the 20-row lag dimension
    broadcast-joins the bounded grid once. §2.B window family [NS].
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
    g0 = e.agg(
        F.sum((F.col("e") * F.col("e")).cast("decimal(38,10)"))
        .cast("double")
        .alias("g")
    )
    lags = spark.range(1, _ACF_L + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    b = e.select(F.col("rn").alias("rnb"), F.col("e").alias("eb"))
    gl = (
        e.crossJoin(F.broadcast(lags))
        .join(b, F.col("rnb") == F.col("rn") - F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum((F.col("e") * F.col("eb")).cast("decimal(38,10)"))
            .cast("double")
            .alias("gsum"),
            F.max("n").alias("n"),
        )
    )
    acf = F.col("gsum") / F.col("g")
    band = 1.96 / F.sqrt(F.col("n").cast("double"))
    return (
        gl.crossJoin(F.broadcast(g0))
        .select(
            "lag",
            F.round(acf, 6).alias("acf"),
            F.round(band, 6).alias("band"),
            (F.abs(acf) > band).alias("significant"),
        )
        .orderBy("lag")
    )
