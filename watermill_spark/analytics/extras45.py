"""Analytics batch 53: iterative ML — one-feature logistic regression fit
by 3 Newton–Raphson steps on the class-count histogram — and the
intraclass correlation / survey design effect.

Logistic regression extends the iterative-oracle family (PageRank, PCA,
k-core) to likelihood optimization: because the data collapses to the
≤11-level feature histogram first, each Newton step is fixed-shape double
algebra over a bounded grid (exp's last-ulp libm wobble, weighted by
counts, stays ≪1e-9 through 3 iterations — absorbed by round 6), and the
driver loop is mirrored by chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_logistic_newton",
    oracle="""
    WITH grid AS (
      SELECT l_discount AS x,
             CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS pos_i
      FROM lineitem GROUP BY 1
    ),
    it0 AS (SELECT 0.0 AS b0, 0.0 AS b1),
    s1 AS (
      SELECT
        SUM(CAST(pos_i AS DOUBLE)
            - n_i * (1 / (1 + exp(-(b0 + b1 * x))))) AS g0,
        SUM(x * (CAST(pos_i AS DOUBLE)
                 - n_i * (1 / (1 + exp(-(b0 + b1 * x)))))) AS g1,
        SUM(n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h00,
        SUM(x * n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h01,
        SUM(x * x * n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h11,
        MAX(b0) AS b0, MAX(b1) AS b1
      FROM grid, it0
    ),
    it1 AS (
      SELECT b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
             b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
      FROM s1
    ),
    s2 AS (
      SELECT
        SUM(CAST(pos_i AS DOUBLE)
            - n_i * (1 / (1 + exp(-(b0 + b1 * x))))) AS g0,
        SUM(x * (CAST(pos_i AS DOUBLE)
                 - n_i * (1 / (1 + exp(-(b0 + b1 * x)))))) AS g1,
        SUM(n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h00,
        SUM(x * n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h01,
        SUM(x * x * n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h11,
        MAX(b0) AS b0, MAX(b1) AS b1
      FROM grid, it1
    ),
    it2 AS (
      SELECT b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
             b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
      FROM s2
    ),
    s3 AS (
      SELECT
        SUM(CAST(pos_i AS DOUBLE)
            - n_i * (1 / (1 + exp(-(b0 + b1 * x))))) AS g0,
        SUM(x * (CAST(pos_i AS DOUBLE)
                 - n_i * (1 / (1 + exp(-(b0 + b1 * x)))))) AS g1,
        SUM(n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h00,
        SUM(x * n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h01,
        SUM(x * x * n_i * (1 / (1 + exp(-(b0 + b1 * x))))
            * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h11,
        MAX(b0) AS b0, MAX(b1) AS b1
      FROM grid, it2
    ),
    it3 AS (
      SELECT b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
             b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
      FROM s3
    ),
    nn AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM grid)
    SELECT nn.n,
           round(b0, 6) AS intercept,
           round(b1, 6) AS coef_discount,
           round(1 / (1 + exp(-b0)), 6) AS pred_rate_at_0,
           round(1 / (1 + exp(-(b0 + b1 * 0.10))), 6) AS pred_rate_at_10pct
    FROM it3, nn
    """,
)
def q_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of P(returned line) on discount, fit by three
    Newton–Raphson steps — iterative maximum-likelihood on Spark, in the
    histogram form every distributed GLM uses: the fact table collapses
    ONCE to per-feature-level (n, positives) counts, and each iteration's
    gradient/Hessian is a fixed-shape reduction over that ≤11-row grid
    (2×2 Hessian solved in closed form).

    Counts are exact integers; sigmoid/exp wobble is bounded by the tiny
    grid and absorbed by round 6 after 3 iterations (the q_pagerank
    iterative-determinism recipe applied to likelihood fitting).

    Scale: ONE fact pass total — iterations never touch data, only the
    broadcast histogram; this is why histogram-GLMs train in seconds at
    100 TB. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    grid = (
        li.groupBy(F.col("l_discount").alias("x"))
        .agg(
            bcount("n_i"),
            F.count_if(F.col("l_returnflag") == "R")
            .cast("bigint")
            .alias("pos_i"),
        )
        .localCheckpoint(eager=True)
    )
    it = None
    for step in range(3):
        if it is None:
            cur = grid.withColumn("b0", F.lit(0.0)).withColumn("b1", F.lit(0.0))
        else:
            cur = grid.crossJoin(F.broadcast(it))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
        pq = p * (1 - p)
        s = cur.agg(
            F.sum(F.col("pos_i").cast("double") - F.col("n_i") * p).alias("g0"),
            F.sum(F.col("x") * (F.col("pos_i").cast("double") - F.col("n_i") * p)).alias("g1"),
            F.sum(F.col("n_i") * pq).alias("h00"),
            F.sum(F.col("x") * F.col("n_i") * pq).alias("h01"),
            F.sum(F.col("x") * F.col("x") * F.col("n_i") * pq).alias("h11"),
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        it = s.select(
            (F.col("b0") + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")) / det).alias("b0"),
            (F.col("b1") + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0")) / det).alias("b1"),
        )
    nn = grid.agg(F.sum("n_i").cast("bigint").alias("n"))
    return it.crossJoin(F.broadcast(nn)).select(
        "n",
        F.round("b0", 6).alias("intercept"),
        F.round("b1", 6).alias("coef_discount"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("b0"))), 6).alias(
            "pred_rate_at_0"
        ),
        F.round(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("b0") + F.col("b1") * F.lit(0.10)))),
            6,
        ).alias("pred_rate_at_10pct"),
    )


@register(
    "q_design_effect_icc",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS cl, o_totalprice AS y FROM orders
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(20,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS ybar
      FROM base
    ),
    g AS (
      SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(y AS DECIMAL(20,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS m_g
      FROM base GROUP BY 1
    ),
    k_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g * n_g) AS BIGINT) AS sn2
      FROM g
    ),
    ssb AS (
      SELECT CAST(SUM(CAST(CAST(n_g AS DOUBLE) * (m_g - t.ybar)
                           * (m_g - t.ybar) AS DECIMAL(28,6))) AS DOUBLE)
               AS ss_b
      FROM g, t
    ),
    ssw AS (
      SELECT CAST(SUM(CAST((b.y - g.m_g) * (b.y - g.m_g)
                           AS DECIMAL(28,6))) AS DOUBLE) AS ss_w
      FROM base b JOIN g ON g.cl = b.cl
    ),
    comp AS (
      SELECT t.n, k_.k,
             ss_b / (k_.k - 1) AS msb,
             ss_w / (t.n - k_.k) AS msw,
             (CAST(t.n AS DOUBLE) - CAST(k_.sn2 AS DOUBLE) / t.n)
               / (k_.k - 1) AS n0
      FROM t, k_, ssb, ssw
    )
    SELECT n, k,
           round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc,
           round(n0, 4) AS avg_cluster_size,
           round(1 + (n0 - 1) * (msb - msw) / (msb + (n0 - 1) * msw), 4)
             AS design_effect
    FROM comp
    """,
)
def q_design_effect_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation of order value within customers (one-way
    random-effects ANOVA estimator) and the survey design effect
    DEFF = 1 + (n₀−1)·ICC — how much clustering by customer inflates the
    variance of any estimate sampled by customer rather than by order (the
    correction factor for q_power_mde under clustered assignment).

    Two-pass deviation sums through DECIMAL (the q_eta_squared_dow
    stability lesson); cluster-size correction n₀ is exact-integer based.

    Scale: one customer groupBy + one co-partitioned join back for
    within-cluster deviations; grids are |customers| and 1-row. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(F.col("o_custkey").alias("cl"), F.col("o_totalprice").alias("y"))
    # r6: t/g/ssb/ssw each re-scanned the fact (6 orders scans in the
    # plan). The cluster grid now carries its DECIMAL sum and is
    # checkpointed; the global mean derives from those exact per-cluster
    # sums (decimal addition is associative, so Σs_g casts to the
    # identical double as the one-pass global sum), leaving the
    # within-deviation join as the only other fact scan: 6 → 2, the
    # two-pass ANOVA minimum.
    g = base.groupBy("cl").agg(
        bcount("n_g"),
        F.sum(dec("y", "decimal(20,6)")).alias("s_g"),
    ).select(
        "cl",
        "n_g",
        "s_g",
        (F.col("s_g").cast("double") / F.col("n_g").cast("double")).alias("m_g"),
    )
    g = g.localCheckpoint(eager=True)
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        (
            F.sum("s_g").cast("double")
            / F.sum("n_g").cast("double")
        ).alias("ybar"),
    )
    k_ = g.agg(
        bcount("k"),
        F.sum(F.col("n_g") * F.col("n_g")).cast("bigint").alias("sn2"),
    )
    dm = F.col("m_g") - F.col("ybar")
    ssb = g.crossJoin(F.broadcast(t)).agg(
        F.sum((F.col("n_g").cast("double") * dm * dm).cast("decimal(28,6)"))
        .cast("double")
        .alias("ss_b")
    )
    dw = F.col("y") - F.col("m_g")
    ssw = base.join(g, "cl").agg(
        F.sum((dw * dw).cast("decimal(28,6)")).cast("double").alias("ss_w")
    )
    comp = (
        t.crossJoin(F.broadcast(k_))
        .crossJoin(F.broadcast(ssb))
        .crossJoin(F.broadcast(ssw))
        .select(
            "n",
            "k",
            (F.col("ss_b") / (F.col("k") - 1)).alias("msb"),
            (F.col("ss_w") / (F.col("n") - F.col("k"))).alias("msw"),
            (
                (
                    F.col("n").cast("double")
                    - F.col("sn2").cast("double") / F.col("n")
                )
                / (F.col("k") - 1)
            ).alias("n0"),
        )
    )
    icc = (F.col("msb") - F.col("msw")) / (
        F.col("msb") + (F.col("n0") - 1) * F.col("msw")
    )
    return comp.select(
        "n",
        "k",
        F.round(icc, 6).alias("icc"),
        F.round("n0", 4).alias("avg_cluster_size"),
        F.round(1 + (F.col("n0") - 1) * icc, 4).alias("design_effect"),
    )
