"""Analytics batch 147: cross-correlation lead-lag scan, day-of-week
effect regression, and Hellinger weekly distribution drift.

The CCF scan answers "do clicks lead purchases, and by how many days?"
— the first diagnostic before any causal/transfer-entropy claim (the
directional siblings q_granger_causality / q_transfer_entropy are
already here; CCF is the symmetric screen that picks the lag). The
DOW regression is the calendar-effect estimator (dummy-variable OLS
collapses to group means, so it's exact). Hellinger drift extends the
drift family (q_psi_value_drift, q_js_divergence) with the bounded
√p·√q metric that is defined even when buckets vanish.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import D15, bcount, ols_moments, sql_ols_moments
from .registry import load, register
from .relations import (
    DAILY_CLICK_PURCHASE_SQL,
    DAILY_REVENUE_SQL,
    daily_click_purchase,
    daily_revenue,
)


@register(
    "q_ccf_lead_lag",
    oracle=f"""
    WITH daily AS ({DAILY_CLICK_PURCHASE_SQL}),
    idx AS (
      SELECT x, y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
      FROM daily
    ),
    lags AS (SELECT CAST(l AS BIGINT) AS lag
             FROM generate_series(-7, 7) AS t(l)),
    pairs AS (
      SELECT g.lag, a.x, b.y
      FROM lags g
      JOIN idx a ON TRUE
      JOIN idx b ON b.rn = a.rn + g.lag
    ),
    mom AS (
      SELECT lag,
             {sql_ols_moments()},
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
      FROM pairs GROUP BY 1
    )
    SELECT lag, n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS ccf
    FROM mom ORDER BY lag
    """,
)
def q_ccf_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily click value (x) and
    daily purchase value (y) at lags −7..+7: ccf(ℓ) = corr(x_t,
    y_{t+ℓ}) — positive-lag peaks mean clicks lead purchases by ℓ days,
    the symmetric screen run before any directional causality claim.

    Determinism: the lag alignment is an integer equi-join on row
    number (rn + lag); per-lag Pearson moments are decimal-exact sums;
    the correlation is one fixed double expression rounded at 6.

    Scale: facts collapse to the day grid once; the 15-lag × grid
    expansion is a broadcast of the 15-row lag dimension followed by a
    bounded-grid self-equi-join — never the fact table. §2.B window
    family [NS].
    """
    daily = daily_click_purchase(spark, sf_dir)
    from pyspark.sql import Window

    idx = daily.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("bigint").alias("lag"))
    a = idx.select(F.col("x"), F.col("rn"))
    b = idx.select(F.col("y").alias("y2"), F.col("rn").alias("rn2"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("rn2") == F.col("rn") + F.col("lag"))
        .select("lag", "x", F.col("y2").alias("y"))
    )
    mom = pairs.groupBy("lag").agg(
        *ols_moments(),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("syy"),
    )
    return mom.select(
        "lag",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("ccf"),
    ).orderBy("lag")


@register(
    "q_dow_effect_ols",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    dows AS (
      SELECT CAST(isodow(d) AS BIGINT) AS dow, d, y FROM daily
    ),
    grp AS (
      SELECT dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS sxx
      FROM dows GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_days) AS BIGINT) AS n,
             CAST(SUM(CAST(s AS DECIMAL(38,10))) AS DOUBLE) AS gs,
             CAST(SUM(CAST(sxx AS DECIMAL(38,10))) AS DOUBLE) AS gsxx,
             CAST(SUM(CAST(s * s / n_days AS DECIMAL(38,10))) AS DOUBLE)
               AS sum_grp
      FROM grp
    ),
    ref AS (SELECT s / n_days AS mu_mon FROM grp WHERE dow = 1)
    SELECT g.dow, g.n_days,
           round(g.s / g.n_days, 4) AS mean_rev,
           round(g.s / g.n_days - r.mu_mon, 4) AS coef_vs_monday,
           round(((t.sum_grp - t.gs * t.gs / t.n) / 6.0)
                 / ((t.gsxx - t.sum_grp) / (t.n - 7.0)), 6) AS f_stat
    FROM grp g, tot t, ref r
    ORDER BY g.dow
    """,
)
def q_dow_effect_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week effect on daily revenue, as dummy-variable OLS with
    Monday the reference level: with a full set of DOW dummies the OLS
    coefficients ARE the group-mean differences, so the fit is closed
    form and exact. Also reports the one-way ANOVA F (6, n−7) for the
    joint "any calendar effect at all?" test.

    Determinism: isodow (1=Mon..7=Sun) is mapped with integer calendar
    arithmetic on the Spark side ((dayofweek+5)%7+1) to match DuckDB's
    isodow(); all moments are decimal-exact sums; F is one fixed double
    expression of them.

    Scale: facts→day grid→7-row DOW grid; the 1-row grand-total and
    1-row Monday-reference broadcasts onto the 7 rows are whitelisted
    1-row aggregates. §2.B aggregation family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    dows = daily.select(
        (((F.dayofweek("d") + 5) % 7) + 1).cast("bigint").alias("dow"), "y"
    )
    grp = dows.groupBy("dow").agg(
        bcount("n_days"),
        F.sum(F.col("y").cast(D15)).cast("double").alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxx"),
    )
    # checkpointed once (r6): the totals, the Monday reference and the
    # final select each re-derived the grid (3 lineitem scans in the
    # plan); the ≤7-row dow grid materializes once
    grp = grp.localCheckpoint(eager=True)
    tot = grp.agg(
        F.sum("n_days").cast("bigint").alias("n"),
        F.sum(F.col("s").cast("decimal(38,10)")).cast("double").alias("gs"),
        F.sum(F.col("sxx").cast("decimal(38,10)")).cast("double").alias("gsxx"),
        F.sum(
            (F.col("s") * F.col("s") / F.col("n_days")).cast("decimal(38,10)")
        )
        .cast("double")
        .alias("sum_grp"),
    )
    ref = grp.filter(F.col("dow") == 1).select(
        (F.col("s") / F.col("n_days")).alias("mu_mon")
    )
    return (
        grp.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ref))
        .select(
            "dow",
            "n_days",
            F.round(F.col("s") / F.col("n_days"), 4).alias("mean_rev"),
            F.round(F.col("s") / F.col("n_days") - F.col("mu_mon"), 4).alias(
                "coef_vs_monday"
            ),
            F.round(
                (
                    (F.col("sum_grp") - F.col("gs") * F.col("gs") / F.col("n"))
                    / 6.0
                )
                / ((F.col("gsxx") - F.col("sum_grp")) / (F.col("n") - 7.0)),
                6,
            ).alias("f_stat"),
        )
        .orderBy("dow")
    )


@register(
    "q_hellinger_drift",
    oracle="""
    WITH bucketed AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
             CAST(FLOOR(ln(value) / ln(2.0)) AS BIGINT) AS bkt,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL AND value > 0
      GROUP BY 1, 2
    ),
    shares AS (
      SELECT wk, bkt,
             CAST(cnt AS DOUBLE)
             / CAST(SUM(cnt) OVER (PARTITION BY wk) AS DOUBLE) AS p
      FROM bucketed
    ),
    paired AS (
      SELECT a.wk,
             CAST(SUM(CAST(sqrt(a.p * b.p) AS DECIMAL(38,15)))
                  AS DOUBLE) AS bc,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM shares a
      JOIN shares b ON b.wk = a.wk - INTERVAL 7 DAY AND b.bkt = a.bkt
      GROUP BY 1
    )
    SELECT wk AS week_start, n_shared,
           round(bc, 6) AS bhattacharyya,
           round(sqrt(GREATEST(0.0, 1.0 - bc)), 6) AS hellinger
    FROM paired ORDER BY 1
    """,
)
def q_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week Hellinger drift of the event-value distribution:
    values bucket into log₂ bins, weekly bucket shares p/q pair up via
    a (week−7d, bucket) equi-join, and H = √(1 − Σ√(p·q)) with the
    Bhattacharyya coefficient alongside — the bounded [0,1] drift
    metric that stays defined when buckets appear/disappear (unlike
    raw KL), complementing q_psi_value_drift and q_js_divergence.

    Determinism: bucket ids are floor(ln v/ln 2) — identical libm
    inputs both engines; Σ√(pq) accumulates over DECIMAL(38,15);
    GREATEST(0, 1−bc) clamps the one-ulp overshoot when distributions
    are identical.

    Scale: facts collapse to the (week, bucket) grid; the week-pair
    join is an equi-join on that bounded grid. §2.B aggregation/drift
    family [NS].
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    bucketed = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("wk"),
        F.floor(F.log("value") / F.log(F.lit(2.0))).cast("bigint").alias("bkt"),
    ).agg(bcount("cnt"))
    from pyspark.sql import Window

    shares = bucketed.select(
        "wk",
        "bkt",
        (
            F.col("cnt").cast("double")
            / F.sum("cnt").over(Window.partitionBy("wk")).cast("double")
        ).alias("p"),
    )
    a = shares.alias("a")
    b = shares.select(
        F.col("wk").alias("wkb"), F.col("bkt").alias("bktb"), F.col("p").alias("q")
    )
    paired = (
        a.join(
            b,
            (F.col("wkb") == F.date_sub(F.col("wk"), 7))
            & (F.col("bktb") == F.col("bkt")),
        )
        .groupBy("wk")
        .agg(
            F.sum(F.sqrt(F.col("p") * F.col("q")).cast(D15))
            .cast("double")
            .alias("bc"),
            bcount("n_shared"),
        )
    )
    return paired.select(
        F.col("wk").alias("week_start"),
        "n_shared",
        F.round("bc", 6).alias("bhattacharyya"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), 1.0 - F.col("bc"))), 6).alias(
            "hellinger"
        ),
    ).orderBy("week_start")
