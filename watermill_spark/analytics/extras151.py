"""Analytics batch 159: actuarial life table, segment lifetime value,
and an SES smoothing-constant grid search.

The actuarial life table (half-withdrawal exposure correction) is the
grouped-time survival workhorse that predates and complements
q_kaplan_meier_retention — it is what subscription finance actually
reports; segment CLV is the AOV × frequency × expected-lifespan
estimator every retention deck opens with; the SES grid turns
hyperparameter search itself into one relational query — nine
smoothing constants evaluated as a single join against an injected
weight table, no per-alpha refits.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation/forecast families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue

# SES truncated-weight table: w(alpha, k) = alpha*(1-alpha)^k for
# k = 0..29, computed once in Python and injected as identical double
# literals into both engines (the q_periodogram_peak twiddle recipe) —
# the one-step SES forecast becomes a 30-lag weighted sum, exact and
# engine-agnostic, with truncation bias shared identically.
_ALPHAS = [round(0.1 * i, 1) for i in range(1, 10)]
_SES_W = [
    (a, k, a * (1.0 - a) ** k) for a in _ALPHAS for k in range(30)
]
_SES_W_SQL = ", ".join(f"({a!r}, {k}, {w!r})" for a, k, w in _SES_W)


@register(
    "q_life_table",
    oracle="""
    WITH mx AS (
      SELECT CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m
      FROM orders
    ),
    cust AS (
      SELECT o_custkey,
             CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS f,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS l
      FROM orders GROUP BY 1
    ),
    span AS (
      SELECT (year(c.l) * 12 + month(c.l))
             - (year(c.f) * 12 + month(c.f)) AS age_end,
             CASE WHEN (year(m.m) * 12 + month(m.m))
                       - (year(c.l) * 12 + month(c.l)) < 6
                  THEN 1 ELSE 0 END AS censored
      FROM cust c, mx m
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM span),
    byage AS (
      SELECT CAST(age_end AS BIGINT) AS age,
             CAST(SUM(1 - censored) AS BIGINT) AS d,
             CAST(SUM(censored) AS BIGINT) AS w
      FROM span GROUP BY 1
    ),
    lt AS (
      SELECT age, d, w,
             t.n0 - COALESCE(CAST(SUM(d + w) OVER (ORDER BY age
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0) AS n_risk
      FROM byage, tot t
    ),
    q AS (
      SELECT age, n_risk, d, w,
             CAST(d AS DOUBLE) / (n_risk - w / 2.0) AS qa
      FROM lt
    )
    SELECT age, n_risk, d AS deaths, w AS withdrawals,
           round(qa, 6) AS q_hazard,
           round(exp(COALESCE(CAST(SUM(CAST(ln(1.0 - qa)
                 AS DECIMAL(38,15)))
                 OVER (ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS DOUBLE), 0.0)), 6)
             AS survival_in
    FROM q WHERE age <= 12 ORDER BY age
    """,
)
def q_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actuarial life table of customer tenure in months: a customer
    "dies" at the age (months from first to last order) unless the
    last order falls within 6 months of the calendar end (withdrawn /
    censored); the hazard uses the classic half-withdrawal exposure
    q_a = d_a/(n_a − w_a/2), and survival-entering-age is the running
    product Π(1−q_k) — the grouped-time survival table subscription
    finance reports, complementing the exact-time q_kaplan_meier_
    retention.

    Determinism: ages and risk sets are pure integer calendar
    arithmetic and window cumsums; the survival product runs as a
    decimal-exact sum of ln(1−q) over identical doubles, exp'd at the
    end.

    Scale: orders collapse to the customer grain, then to the bounded
    age grid; all windows run on that grid. §2.B window/survival
    family [NS].
    """
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("f"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("l"),
    )
    # checkpointed once (r6): the anchor month, the risk-set total, and
    # the age histogram each re-derived the per-customer rollup from the
    # fact (4 orders scans in the plan); the per-customer grid
    # materializes once, and the anchor now derives from it —
    # max(per-customer max month) ≡ month of the global max date
    # (date_trunc is monotone) — so orders is scanned exactly once
    cust = cust.localCheckpoint(eager=True)
    mx = cust.agg(F.max("l").alias("m"))
    months = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    span = cust.crossJoin(F.broadcast(mx)).select(
        (months(F.col("l")) - months(F.col("f"))).alias("age_end"),
        F.when(months(F.col("m")) - months(F.col("l")) < 6, 1)
        .otherwise(0)
        .alias("censored"),
    )
    tot = span.agg(bcount("n0"))
    byage = span.groupBy(F.col("age_end").cast("bigint").alias("age")).agg(
        F.sum(1 - F.col("censored")).cast("bigint").alias("d"),
        F.sum("censored").cast("bigint").alias("w"),
    )
    wprev = Window.orderBy("age").rowsBetween(Window.unboundedPreceding, -1)
    lt = byage.crossJoin(F.broadcast(tot)).select(
        "age",
        "d",
        "w",
        (
            F.col("n0")
            - F.coalesce(
                F.sum(F.col("d") + F.col("w")).over(wprev).cast("bigint"),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    q = lt.select(
        "age",
        "n_risk",
        "d",
        "w",
        (F.col("d").cast("double") / (F.col("n_risk") - F.col("w") / 2.0)).alias(
            "qa"
        ),
    )
    surv = F.exp(
        F.coalesce(
            F.sum(F.log(1.0 - F.col("qa")).cast(D15))
            .over(wprev)
            .cast("double"),
            F.lit(0.0),
        )
    )
    return (
        q.filter(F.col("age") <= 12)
        .select(
            "age",
            "n_risk",
            F.col("d").alias("deaths"),
            F.col("w").alias("withdrawals"),
            F.round("qa", 6).alias("q_hazard"),
            F.round(surv, 6).alias("survival_in"),
        )
        .orderBy("age")
    )


@register(
    "q_customer_lifetime_value",
    oracle="""
    WITH cal AS (
      SELECT CAST(COUNT(DISTINCT year(o_orderdate)) AS BIGINT) AS ny,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS mx
      FROM orders
    ),
    cust AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS rev,
             CAST(date_trunc('month', MAX(o.o_orderdate)) AS DATE) AS l
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    seg AS (
      SELECT cu.segment,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cu.n_orders) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(cu.rev AS DECIMAL(38,10))) AS DOUBLE) AS rev,
             CAST(SUM(CASE WHEN (year(ca.mx) * 12 + month(ca.mx))
                           - (year(cu.l) * 12 + month(cu.l)) >= 12
                      THEN 1 ELSE 0 END) AS BIGINT) AS churned,
             MAX(ca.ny) AS ny
      FROM cust cu, cal ca
      GROUP BY 1
    )
    SELECT segment, n_customers,
           round(rev / n_orders, 4) AS aov,
           round(CAST(n_orders AS DOUBLE) / n_customers / ny, 6)
             AS orders_per_customer_year,
           round(CAST(churned AS DOUBLE) / n_customers, 6) AS churn_rate,
           round(1.0 / (CAST(churned AS DOUBLE) / n_customers), 4)
             AS expected_lifespan_years,
           round((rev / n_orders)
                 * (CAST(n_orders AS DOUBLE) / n_customers / ny)
                 / (CAST(churned AS DOUBLE) / n_customers), 2) AS clv
    FROM seg ORDER BY segment
    """,
)
def q_customer_lifetime_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic customer lifetime value per market segment: CLV =
    AOV × (orders per customer-year) × expected lifespan, with lifespan
    = 1/churn and churn = the share of customers whose last order is
    ≥ 12 months before the calendar end — the back-of-envelope CLV
    every retention deck opens with, all terms exact (the
    probabilistic upgrade path is a BG/NBD fit; this is its
    deterministic, oracle-checkable floor).

    Determinism: revenue via decimal sums; churn/frequency are integer
    counts and calendar arithmetic divided in double.

    Scale: one fact rollup to the (segment, customer) grain with a
    broadcast customer-dimension join, then a segment rollup; the
    1-row calendar broadcast is whitelisted. §2.B aggregation family
    [NS].
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cal = o.agg(
        F.countDistinct(F.year("o_orderdate")).cast("bigint").alias("ny"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("mx"),
    )
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            bcount("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("rev"),
            F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("l"),
        )
    )
    months = lambda col: F.year(col) * 12 + F.month(col)  # noqa: E731
    seg = (
        cust.crossJoin(F.broadcast(cal))
        .groupBy("segment")
        .agg(
            bcount("n_customers"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum(F.col("rev").cast("decimal(38,10)"))
            .cast("double")
            .alias("rev"),
            F.sum(
                F.when(
                    months(F.col("mx")) - months(F.col("l")) >= 12, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("churned"),
            F.max("ny").alias("ny"),
        )
    )
    churn = F.col("churned").cast("double") / F.col("n_customers")
    freq = F.col("n_orders").cast("double") / F.col("n_customers") / F.col("ny")
    aov = F.col("rev") / F.col("n_orders")
    return seg.select(
        "segment",
        "n_customers",
        F.round(aov, 4).alias("aov"),
        F.round(freq, 6).alias("orders_per_customer_year"),
        F.round(churn, 6).alias("churn_rate"),
        F.round(1.0 / churn, 4).alias("expected_lifespan_years"),
        F.round(aov * freq / churn, 2).alias("clv"),
    ).orderBy("segment")


@register(
    "q_ses_grid_search",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    idx AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
      FROM daily
    ),
    wt(alpha, k, w) AS (VALUES {_SES_W_SQL}),
    yhat AS (
      SELECT CAST(w.alpha AS DOUBLE) AS alpha, a.rn, MAX(a.y) AS y,
             CAST(SUM(CAST(w.w * b.y AS DECIMAL(38,10))) AS DOUBLE)
               AS f
      FROM idx a
      JOIN wt w ON TRUE
      JOIN idx b ON b.rn = a.rn - 1 - w.k
      WHERE a.rn > 30
      GROUP BY 1, 2
    )
    SELECT alpha,
           CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           round(sqrt(CAST(SUM(CAST((y - f) * (y - f) AS DECIMAL(38,10)))
                           AS DOUBLE) / COUNT(*)), 4) AS rmse,
           CAST(CAST(SUM(CAST((y - f) * (y - f) AS DECIMAL(38,10)))
                     AS DOUBLE)
                = MIN(CAST(SUM(CAST((y - f) * (y - f) AS DECIMAL(38,10)))
                           AS DOUBLE)) OVER () AS BOOLEAN) AS is_best
    FROM yhat GROUP BY alpha ORDER BY alpha
    """,
)
def q_ses_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing grid search, alpha in 0.1..0.9:
    the one-step forecast ŷ_t = α·Σ_(k<30) (1−α)^k·y_(t-1-k) is a
    30-lag weighted sum against a Python-injected weight table (the
    q_periodogram_peak constant-injection recipe), so all nine alphas
    evaluate in ONE join — hyperparameter search as a relational query,
    no nine sequential refits. Reports per-alpha RMSE and flags the
    winner; truncation past 30 lags is identical on both engines and
    scored only for t > 30.

    Determinism: weights are identical double literals; the weighted
    sums and squared errors accumulate through DECIMAL; the winner flag
    compares unrounded SSEs.

    Scale: facts collapse to the day grid; the 270-row weight table
    broadcast-joins the grid's (rn − 1 − k) self-equi-join — bounded
    270×days expansion, one groupBy per (alpha, t). §2.B forecast
    family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    idx = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn")
    )
    wt = spark.createDataFrame(_SES_W, "alpha double, k long, w double")
    b = idx.select(F.col("y").alias("yb"), F.col("rn").alias("rnb"))
    yhat = (
        idx.filter(F.col("rn") > 30)
        .crossJoin(F.broadcast(wt))
        .join(b, F.col("rnb") == F.col("rn") - 1 - F.col("k"))
        .groupBy("alpha", "rn")
        .agg(
            F.max("y").alias("y"),
            F.sum((F.col("w") * F.col("yb")).cast("decimal(38,10)"))
            .cast("double")
            .alias("f"),
        )
    )
    sse = F.sum(
        ((F.col("y") - F.col("f")) * (F.col("y") - F.col("f"))).cast(
            "decimal(38,10)"
        )
    ).cast("double")
    per_alpha = yhat.groupBy("alpha").agg(
        bcount("n_forecasts"), sse.alias("sse")
    )
    wall = Window.partitionBy()
    return per_alpha.select(
        "alpha",
        "n_forecasts",
        F.round(F.sqrt(F.col("sse") / F.col("n_forecasts")), 4).alias("rmse"),
        (F.col("sse") == F.min("sse").over(wall)).alias("is_best"),
    ).orderBy("alpha")
