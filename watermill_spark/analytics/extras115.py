"""Analytics batch 123: adstock regression (media-mix lite), join
cardinality profiling, and competing-risks cumulative incidence.

Adstock is the marketing-science transform: advertising (here: clicks)
decays geometrically in memory, so revenue regresses on the decayed
carryover, not the raw impulse — the core of every media-mix model.
Join-cardinality profiling is the data-engineering health check before
any fact-fact join: the children-per-parent distribution decides
broadcast vs shuffle vs skew-salting strategies. Competing risks extend
the survival family to "which happens FIRST" questions: the
Aalen–Johansen cumulative incidence of purchase-first vs error-first
correctly accounts for one risk removing exposure to the other (naive
1−KM per cause overestimates both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register

_US_PER_HOUR = 3600000000


@register(
    "q_adstock_regression",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS clicks,
             CAST(SUM(CAST(CASE WHEN event_type = 'purchase'
                           THEN COALESCE(value, 0) ELSE 0 END
                           AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM events GROUP BY 1
    ),
    ad AS (
      SELECT d, rev,
             (clicks + 0.5 * l1 + 0.25 * l2 + 0.125 * l3 + 0.0625 * l4
              + 0.03125 * l5 + 0.015625 * l6 + 0.0078125 * l7) AS adstock,
             rn
      FROM (
        SELECT d, rev, clicks,
               row_number() OVER w AS rn,
               COALESCE(lag(clicks, 1) OVER w, 0) AS l1,
               COALESCE(lag(clicks, 2) OVER w, 0) AS l2,
               COALESCE(lag(clicks, 3) OVER w, 0) AS l3,
               COALESCE(lag(clicks, 4) OVER w, 0) AS l4,
               COALESCE(lag(clicks, 5) OVER w, 0) AS l5,
               COALESCE(lag(clicks, 6) OVER w, 0) AS l6,
               COALESCE(lag(clicks, 7) OVER w, 0) AS l7
        FROM daily
        WINDOW w AS (ORDER BY d)
      )
      WHERE rn >= 8
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS k,
             CAST(SUM(CAST(adstock AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(rev AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(adstock * rev AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(adstock * adstock AS DECIMAL(38,15))) AS DOUBLE)
               AS sxx,
             CAST(SUM(CAST(rev * rev AS DECIMAL(38,15))) AS DOUBLE) AS syy
      FROM ad
    )
    SELECT CAST(k AS BIGINT) AS n_days,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
             AS adstock_beta,
           round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
             AS intercept,
           round((k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2
    FROM mom
    """,
)
def q_adstock_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-mix-lite: purchase revenue regressed on the geometric
    adstock of clicks — carryover a_t = Σ_{k=0..7} 0.5^k·clicks_{t−k}
    (half-life one day, truncated 8 taps, missing lags as 0), then
    closed-form OLS with R². The adstock transform is what separates an
    MMM from a naive same-day correlation (q_ccf_click_purchase shows
    the raw cross-correlation; this fits the decayed-response model).

    Determinism: daily counts/revenue are exact; the adstock stencil is
    power-of-two weights in fixed left-assoc order (extras11 trick); OLS
    moments ride DECIMAL(38,15).

    Scale: one day rollup, one lag window over the bounded day grid,
    one moment aggregation. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("clicks"),
        F.sum(
            dec(
                F.when(
                    F.col("event_type") == "purchase",
                    F.coalesce(F.col("value"), F.lit(0)),
                ).otherwise(0)
            )
        )
        .cast("double")
        .alias("rev"),
    )
    w = Window.orderBy("d")
    lags = [F.coalesce(F.lag("clicks", i).over(w), F.lit(0.0)) for i in range(1, 8)]
    weights = [0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125]
    adstock = F.col("clicks")
    for lg, wt in zip(lags, weights):
        adstock = adstock + wt * lg
    ad = daily.select(
        "d",
        "rev",
        adstock.alias("adstock"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") >= 8)
    mom = ad.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("adstock").cast(D15)).cast("double").alias("sx"),
        F.sum(F.col("rev").cast(D15)).cast("double").alias("sy"),
        F.sum((F.col("adstock") * F.col("rev")).cast(D15)).cast("double").alias("sxy"),
        F.sum((F.col("adstock") * F.col("adstock")).cast(D15))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("rev") * F.col("rev")).cast(D15)).cast("double").alias("syy"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    beta = num / denx
    return mom.select(
        F.col("k").cast("bigint").alias("n_days"),
        F.round(beta, 6).alias("adstock_beta"),
        F.round((F.col("sy") - beta * F.col("sx")) / F.col("k"), 6).alias(
            "intercept"
        ),
        F.round(num * num / (denx * deny), 6).alias("r2"),
    )


@register(
    "q_join_cardinality_profile",
    oracle="""
    WITH ol AS (
      SELECT 'orders->lineitem' AS rel, o.o_orderkey AS pk,
             CAST(COUNT(l.l_orderkey) AS BIGINT) AS k
      FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    co AS (
      SELECT 'customer->orders' AS rel, c.c_custkey AS pk,
             CAST(COUNT(o.o_custkey) AS BIGINT) AS k
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    uni AS (SELECT * FROM ol UNION ALL SELECT * FROM co)
    SELECT rel AS relation, k AS children,
           CAST(COUNT(*) AS BIGINT) AS n_parents,
           round(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY rel), 6) AS share
    FROM uni
    GROUP BY rel, k
    ORDER BY relation, children
    """,
)
def q_join_cardinality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality profile of the two fact relationships: the full
    children-per-parent distribution (including zero-child parents via
    left joins) for orders→lineitem and customer→orders, with per-
    relation shares. The pre-join health check that decides a 100-TB
    join strategy — a long tail here means skew salting
    (q_skew_salted_join); a bounded fan-out certifies the pair join
    shapes (q_slope_one's ≤25-brand argument is exactly this check);
    zero-child mass feeds q_referential_orphans' integrity story.

    Determinism: counts are exact integers; shares divide in double.

    Scale: two keyed left-join rollups (the natural shuffle) collapsing
    to bounded (relation, k) histograms. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    ol = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .groupBy(F.col("o_orderkey").alias("pk"))
        .agg(F.count("l_orderkey").cast("bigint").alias("k"))
        .select(F.lit("orders->lineitem").alias("rel"), "pk", "k")
    )
    co = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy(F.col("c_custkey").alias("pk"))
        .agg(F.count("o_custkey").cast("bigint").alias("k"))
        .select(F.lit("customer->orders").alias("rel"), "pk", "k")
    )
    uni = ol.unionByName(co)
    wrel = Window.partitionBy("rel")
    return (
        uni.groupBy("rel", "k")
        .agg(bcount("n_parents"))
        .select(
            F.col("rel").alias("relation"),
            F.col("k").alias("children"),
            "n_parents",
            F.round(
                F.col("n_parents").cast("double")
                / F.sum("n_parents").over(wrel),
                6,
            ).alias("share"),
        )
        .orderBy("relation", "children")
    )


@register(
    "q_competing_risks",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id,
             epoch_us(MIN(ts)) AS t0,
             epoch_us(MIN(CASE WHEN event_type = 'purchase' THEN ts END))
               AS tp,
             epoch_us(MIN(CASE WHEN event_type = 'error' THEN ts END)) AS te,
             epoch_us(MAX(ts)) AS tl
      FROM events GROUP BY 1
    ),
    spells AS (
      SELECT user_id,
             CASE
               WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
               WHEN te IS NOT NULL AND (tp IS NULL OR te < tp) THEN 2
               ELSE 0 END AS cause,
             (COALESCE(LEAST(tp, te), COALESCE(tp, te, tl)) - t0)
               // {_US_PER_HOUR} AS t
      FROM firsts
    ),
    grid AS (
      SELECT t,
             CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM spells GROUP BY 1
    ),
    km AS (
      SELECT t, d1, d2,
             CAST(SUM(leaving) OVER () AS BIGINT)
               - COALESCE(SUM(leaving) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
      FROM grid
    ),
    surv AS (
      SELECT t, d1, d2, n_risk,
             exp(CAST(COALESCE(SUM(CAST(
               CASE WHEN d1 + d2 < n_risk
                    THEN ln(1.0 - CAST(d1 + d2 AS DOUBLE) / n_risk)
                    ELSE -1000000.0 END
               AS DECIMAL(38,15))) OVER (
                 ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS DOUBLE)) AS s_prev
      FROM km
    ),
    cif AS (
      SELECT t,
             CAST(SUM(CAST(s_prev * d1 / n_risk AS DECIMAL(38,15))) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS cif1,
             CAST(SUM(CAST(s_prev * d2 / n_risk AS DECIMAL(38,15))) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS cif2
      FROM surv
    ),
    h AS (SELECT unnest(ARRAY[24, 48, 72, 168]) AS hz)
    SELECT CAST(h.hz AS BIGINT) AS horizon_hours,
           round(MAX(CASE WHEN c.t <= h.hz THEN c.cif1 END), 6)
             AS cif_purchase_first,
           round(MAX(CASE WHEN c.t <= h.hz THEN c.cif2 END), 6)
             AS cif_error_first
    FROM h, cif c
    GROUP BY h.hz
    ORDER BY horizon_hours
    """,
)
def q_competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competing-risks cumulative incidence (Aalen–Johansen): per user,
    which comes first after their first event — purchase (cause 1) or
    error (cause 2) — at integer-hour resolution (ties go to purchase;
    users with neither are censored at their last event).
    CIF_k(t) = Σ_{{τ≤t}} S(τ⁻)·d_k(τ)/n_risk(τ) with S the all-cause KM
    — the estimator that respects that converting first REMOVES the user
    from error-first risk (naive per-cause 1−KM overstates both; CIFs
    sum to ≤ 1). Reported at 24/48/72/168-hour horizons. Extends the
    survival family (q_kaplan_meier_retention, q_rmst, q_cox_ph_newton)
    to multiple absorbing states.

    Determinism: spell times are integer epoch-hour differences; the
    first-cause rule is an explicit tie policy; KM log-sums and CIF
    increments ride DECIMAL(38,15) with the q_rmst ln(0) guard.

    Scale: one per-user rollup, windows over the bounded hour grid.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        F.unix_micros(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("tp"),
        F.unix_micros(
            F.min(F.when(F.col("event_type") == "error", F.col("ts")))
        ).alias("te"),
        F.unix_micros(F.max("ts")).alias("tl"),
    )
    cause = (
        F.when(
            F.col("tp").isNotNull()
            & (F.col("te").isNull() | (F.col("tp") <= F.col("te"))),
            1,
        )
        .when(
            F.col("te").isNotNull()
            & (F.col("tp").isNull() | (F.col("te") < F.col("tp"))),
            2,
        )
        .otherwise(0)
    )
    t_end = F.coalesce(
        F.least("tp", "te"), F.coalesce(F.col("tp"), F.col("te"), F.col("tl"))
    )
    spells = firsts.select(
        cause.alias("cause"),
        F.floor((t_end - F.col("t0")) / _US_PER_HOUR).cast("bigint").alias("t"),
    )
    grid = spells.groupBy("t").agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0)).cast("bigint").alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0)).cast("bigint").alias("d2"),
        bcount("leaving"),
    )
    wall = Window.partitionBy()
    wexcl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wincl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = grid.select(
        "t",
        "d1",
        "d2",
        (
            F.sum("leaving").over(wall).cast("bigint")
            - F.coalesce(F.sum("leaving").over(wexcl), F.lit(0))
        ).alias("n_risk"),
    )
    lnterm = F.when(
        F.col("d1") + F.col("d2") < F.col("n_risk"),
        F.log(
            F.lit(1.0)
            - (F.col("d1") + F.col("d2")).cast("double") / F.col("n_risk")
        ),
    ).otherwise(F.lit(-1000000.0))
    surv = km.select(
        "t",
        "d1",
        "d2",
        "n_risk",
        F.exp(
            F.coalesce(F.sum(lnterm.cast(D15)).over(wexcl), F.lit(0).cast(D15))
            .cast("double")
        ).alias("s_prev"),
    )
    cif = surv.select(
        "t",
        F.sum((F.col("s_prev") * F.col("d1") / F.col("n_risk")).cast(D15))
        .over(wincl)
        .cast("double")
        .alias("cif1"),
        F.sum((F.col("s_prev") * F.col("d2") / F.col("n_risk")).cast(D15))
        .over(wincl)
        .cast("double")
        .alias("cif2"),
    )
    h = spark.range(1).select(
        F.explode(F.array(F.lit(24), F.lit(48), F.lit(72), F.lit(168))).alias("hz")
    )
    return (
        h.crossJoin(cif)
        .groupBy("hz")
        .agg(
            F.round(
                F.max(F.when(F.col("t") <= F.col("hz"), F.col("cif1"))), 6
            ).alias("cif_purchase_first"),
            F.round(
                F.max(F.when(F.col("t") <= F.col("hz"), F.col("cif2"))), 6
            ).alias("cif_error_first"),
        )
        .select(
            F.col("hz").cast("bigint").alias("horizon_hours"),
            "cif_purchase_first",
            "cif_error_first",
        )
        .orderBy("horizon_hours")
    )
