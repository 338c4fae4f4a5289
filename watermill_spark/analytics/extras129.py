"""Analytics batch 137: omnibus and ordered-alternative nonparametrics —
D'Agostino K² normality, the Brunner–Munzel rank-Welch test, and the
Jonckheere–Terpstra ordered-trend test.

Completes the hypothesis-test shelf: K² is the moment-space omnibus
(skew + kurtosis z's, the SQL-native sibling of q_jarque_bera with the
proper finite-n transforms), Brunner–Munzel is the modern replacement for
Mann-Whitney when variances differ (rank Welch test — the
nonparametric Behrens-Fisher answer), and Jonckheere–Terpstra upgrades
Kruskal-Wallis when the groups are *ordered* (order priority 1→5), which
a trend-aware monitor should exploit for power.

All three follow the det.py playbook: heavy passes are distributed
aggregations with per-term DECIMAL routing; closed-form transforms run on
1-row aggregates with the identical IEEE expression tree on both engines.
Reference parity: watermill has no analytics surface; these are [NS]
SURVEY.md §2.B aggregation-family operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import C10, bcount, dec
from .registry import load, register


@register(
    "q_dagostino_k2",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM daily
    ),
    cs AS (
      SELECT m.n,
             CAST(SUM(CAST((y-m.mu)*(y-m.mu) AS DECIMAL(38,10))) AS DOUBLE)
               / m.n AS m2,
             CAST(SUM(CAST((y-m.mu)*(y-m.mu)*(y-m.mu) AS DECIMAL(38,10)))
                  AS DOUBLE) / m.n AS m3,
             CAST(SUM(CAST((y-m.mu)*(y-m.mu)*(y-m.mu)*(y-m.mu)
                           AS DECIMAL(38,10))) AS DOUBLE) / m.n AS m4
      FROM daily, mom m GROUP BY m.n
    ),
    g AS (
      SELECT CAST(n AS DOUBLE) AS n, n AS n_days,
             m3 / (m2 * sqrt(m2)) AS g1,
             m4 / (m2 * m2) AS b2k
      FROM cs
    ),
    z1 AS (
      SELECT n, n_days, g1, b2k,
             g1 * sqrt((n+1.0)*(n+3.0)/(6.0*(n-2.0))) AS yy,
             3.0*(n*n + 27.0*n - 70.0)*(n+1.0)*(n+3.0)
               / ((n-2.0)*(n+5.0)*(n+7.0)*(n+9.0)) AS bb2
      FROM g
    ),
    z1b AS (
      SELECT n, n_days, g1, b2k, yy,
             -1.0 + sqrt(2.0*(bb2-1.0)) AS w2
      FROM z1
    ),
    z1c AS (
      SELECT n, n_days, g1, b2k,
             (1.0/sqrt(0.5*ln(w2)))
               * ln(yy/sqrt(2.0/(w2-1.0))
                    + sqrt((yy/sqrt(2.0/(w2-1.0)))*(yy/sqrt(2.0/(w2-1.0)))
                           + 1.0)) AS zskew
      FROM z1b
    ),
    z2 AS (
      SELECT n, n_days, g1, b2k, zskew,
             (b2k - 3.0*(n-1.0)/(n+1.0))
               / sqrt(24.0*n*(n-2.0)*(n-3.0)
                      / ((n+1.0)*(n+1.0)*(n+3.0)*(n+5.0))) AS x,
             6.0*(n*n - 5.0*n + 2.0)/((n+7.0)*(n+9.0))
               * sqrt(6.0*(n+3.0)*(n+5.0)/(n*(n-2.0)*(n-3.0))) AS beta1
      FROM z1c
    ),
    z2b AS (
      SELECT n_days, g1, b2k, zskew, x,
             6.0 + (8.0/beta1)*(2.0/beta1 + sqrt(1.0 + 4.0/(beta1*beta1)))
               AS aa
      FROM z2
    ),
    z2c AS (
      SELECT n_days, g1, b2k, zskew,
             ((1.0 - 2.0/(9.0*aa))
              - cbrt((1.0 - 2.0/aa)/(1.0 + x*sqrt(2.0/(aa-4.0)))))
               * sqrt(4.5*aa) AS zkurt
      FROM z2b
    )
    SELECT n_days,
           round(g1, 6) AS skewness,
           round(b2k - 3.0, 6) AS excess_kurtosis,
           round(zskew, 6) AS z_skew,
           round(zkurt, 6) AS z_kurt,
           round(zskew*zskew + zkurt*zkurt, 6) AS k2_stat,
           CASE WHEN zskew*zskew + zkurt*zkurt > 5.991
                THEN 'non-normal' ELSE 'normal' END AS verdict
    FROM z2c
    """,
)
def q_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino K² omnibus normality test of daily revenue: the sample
    skewness z (D'Agostino 1970 Johnson-SU transform) and kurtosis z
    (Anscombe–Glynn 1983 cube-root-chi² transform) are squared and summed;
    K² ~ χ²(2) under normality (5% cut 5.991). The finite-n-calibrated
    upgrade of q_jarque_bera, whose asymptotic χ² is anticonservative at
    n≈2.4k days.

    Determinism: two-pass exact moments (mu from DECIMAL(38,15) sums;
    central 2nd/3rd/4th powers are fixed-shape double products cast
    DECIMAL(38,10) per-term); every transform below runs on the 1-row
    aggregate with the identical expression tree both engines, so ln /
    sqrt / cbrt see bit-identical inputs.

    Scale: two distributed agg passes (the mu broadcast is a 1-row BNLJ
    onto the bounded day grid); the transform chain is 1-row math. §2.B
    [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    # checkpointed once (r6): the mean and the central-moment pass both
    # re-derived the rollup (2 lineitem scans in the plan); the
    # calendar-bounded day grid materializes once
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    ).localCheckpoint(eager=True)
    mom = daily.agg(
        bcount("n"),
        (
            F.sum(F.col("y").cast("decimal(38,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    dev = F.col("y") - F.col("mu")
    cs = (
        daily.crossJoin(F.broadcast(mom))
        .groupBy("n")
        .agg(
            (F.sum((dev * dev).cast(C10)).cast("double") / F.col("n")).alias("m2"),
            (F.sum((dev * dev * dev).cast(C10)).cast("double") / F.col("n")).alias(
                "m3"
            ),
            (
                F.sum((dev * dev * dev * dev).cast(C10)).cast("double")
                / F.col("n")
            ).alias("m4"),
        )
    )
    n = F.col("n").cast("double")
    g = cs.select(
        F.col("n").alias("n_days"),
        n.alias("nd"),
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("g1"),
        (F.col("m4") / (F.col("m2") * F.col("m2"))).alias("b2k"),
    )
    nd = F.col("nd")
    z1 = g.select(
        "n_days",
        "nd",
        "g1",
        "b2k",
        (F.col("g1") * F.sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))).alias(
            "yy"
        ),
        (
            3.0
            * (nd * nd + 27.0 * nd - 70.0)
            * (nd + 1.0)
            * (nd + 3.0)
            / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
        ).alias("bb2"),
    )
    z1b = z1.withColumn("w2", -F.lit(1.0) + F.sqrt(2.0 * (F.col("bb2") - 1.0)))
    ya = F.col("yy") / F.sqrt(2.0 / (F.col("w2") - 1.0))
    z1c = z1b.select(
        "n_days",
        "nd",
        "g1",
        "b2k",
        (
            (1.0 / F.sqrt(0.5 * F.log(F.col("w2"))))
            * F.log(ya + F.sqrt(ya * ya + 1.0))
        ).alias("zskew"),
    )
    z2 = z1c.select(
        "n_days",
        "g1",
        "b2k",
        "zskew",
        (
            (F.col("b2k") - 3.0 * (nd - 1.0) / (nd + 1.0))
            / F.sqrt(
                24.0
                * nd
                * (nd - 2.0)
                * (nd - 3.0)
                / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
            )
        ).alias("x"),
        (
            6.0
            * (nd * nd - 5.0 * nd + 2.0)
            / ((nd + 7.0) * (nd + 9.0))
            * F.sqrt(6.0 * (nd + 3.0) * (nd + 5.0) / (nd * (nd - 2.0) * (nd - 3.0)))
        ).alias("beta1"),
    )
    z2b = z2.withColumn(
        "aa",
        6.0
        + (8.0 / F.col("beta1"))
        * (2.0 / F.col("beta1") + F.sqrt(1.0 + 4.0 / (F.col("beta1") * F.col("beta1")))),
    )
    aa = F.col("aa")
    zkurt = (
        (1.0 - 2.0 / (9.0 * aa))
        - F.cbrt((1.0 - 2.0 / aa) / (1.0 + F.col("x") * F.sqrt(2.0 / (aa - 4.0))))
    ) * F.sqrt(4.5 * aa)
    z2c = z2b.select("n_days", "g1", "b2k", "zskew", zkurt.alias("zkurt"))
    k2 = F.col("zskew") * F.col("zskew") + F.col("zkurt") * F.col("zkurt")
    return z2c.select(
        "n_days",
        F.round("g1", 6).alias("skewness"),
        F.round(F.col("b2k") - 3.0, 6).alias("excess_kurtosis"),
        F.round("zskew", 6).alias("z_skew"),
        F.round("zkurt", 6).alias("z_kurt"),
        F.round(k2, 6).alias("k2_stat"),
        F.when(k2 > 5.991, F.lit("non-normal"))
        .otherwise(F.lit("normal"))
        .alias("verdict"),
    )


@register(
    "q_brunner_munzel",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    lab AS (
      SELECT y,
             CASE WHEN dayofweek(d) IN (0, 6) THEN 'we' ELSE 'wd' END AS g
      FROM daily
    ),
    rk AS (
      SELECT g,
             RANK() OVER (ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS r,
             RANK() OVER (PARTITION BY g ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY g, y) - 1) / 2.0 AS rw
      FROM lab
    ),
    agg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(r AS DECIMAL(28,1))) AS DOUBLE) AS sum_r,
             CAST(SUM(CAST(r - rw AS DECIMAL(28,1))) AS DOUBLE) AS sum_d,
             CAST(SUM(CAST((r - rw) * (r - rw) AS DECIMAL(38,2))) AS DOUBLE)
               AS sum_d2
      FROM rk GROUP BY g
    ),
    m AS (
      SELECT
        MAX(CASE WHEN g = 'wd' THEN n END) AS nx,
        MAX(CASE WHEN g = 'we' THEN n END) AS ny,
        MAX(CASE WHEN g = 'wd' THEN sum_r END) / MAX(CASE WHEN g = 'wd' THEN n END) AS rbx,
        MAX(CASE WHEN g = 'we' THEN sum_r END) / MAX(CASE WHEN g = 'we' THEN n END) AS rby,
        (MAX(CASE WHEN g = 'wd' THEN sum_d2 END)
         - MAX(CASE WHEN g = 'wd' THEN sum_d END)
           * MAX(CASE WHEN g = 'wd' THEN sum_d END)
           / MAX(CASE WHEN g = 'wd' THEN n END))
          / (MAX(CASE WHEN g = 'wd' THEN n END) - 1) AS sx2,
        (MAX(CASE WHEN g = 'we' THEN sum_d2 END)
         - MAX(CASE WHEN g = 'we' THEN sum_d END)
           * MAX(CASE WHEN g = 'we' THEN sum_d END)
           / MAX(CASE WHEN g = 'we' THEN n END))
          / (MAX(CASE WHEN g = 'we' THEN n END) - 1) AS sy2
      FROM agg
    )
    SELECT CAST(nx AS BIGINT) AS n_weekday,
           CAST(ny AS BIGINT) AS n_weekend,
           round((rby - (ny + 1.0)/2.0) / nx, 6) AS p_hat,
           round(nx*ny*(rby - rbx) / (nx + ny) / sqrt(nx*sx2 + ny*sy2), 6)
             AS bm_stat,
           round((nx*sx2 + ny*sy2)*(nx*sx2 + ny*sy2)
                 / ((nx*sx2)*(nx*sx2)/(nx - 1.0)
                    + (ny*sy2)*(ny*sy2)/(ny - 1.0)), 6) AS df_welch
    FROM m
    """,
)
def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner–Munzel rank-Welch test: is weekend daily revenue
    stochastically larger than weekday? Reports p̂ = P(X<Y)+½P(X=Y) (the
    relative effect), the BM statistic W = nₓn_y(R̄_y−R̄ₓ)/((nₓ+n_y)·
    √(nₓSₓ²+n_yS_y²)), and the Welch-type df. Unlike Mann-Whitney it stays
    valid when the two groups have different variances (nonparametric
    Behrens-Fisher). Sᵢ² is the sample variance of Dᵢⱼ = Rᵢⱼ−Rᵢⱼ⁽ⁱ⁾
    (combined minus within-group midrank) — the textbook deviation
    Rᵢⱼ−Rᵢⱼ⁽ⁱ⁾−R̄ᵢ+(nᵢ+1)/2 simplifies to Dᵢⱼ−D̄ᵢ because within-group
    midranks always average to (nᵢ+1)/2.

    Determinism: midranks are exact half-integer rationals (rank +
    (ties−1)/2), so ΣR, ΣD, ΣD² route through DECIMAL exactly; variance /
    statistic are fixed-order 1-row double math; the two group rows fold
    to one row by conditional aggregation (no join).

    Scale: ranks run on the bounded ~2.4k-row day grid (the fact table
    collapses first); the unpartitioned window is over that grid only.
    §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek: 0=Sunday..6
    lab = daily.select(
        "y",
        F.when(F.dayofweek("d").isin(1, 7), F.lit("we"))
        .otherwise(F.lit("wd"))
        .alias("g"),
    )
    r = (
        F.rank().over(Window.orderBy("y"))
        + (F.count(F.lit(1)).over(Window.partitionBy("y")) - 1) / 2.0
    )
    rw = (
        F.rank().over(Window.partitionBy("g").orderBy("y"))
        + (F.count(F.lit(1)).over(Window.partitionBy("g", "y")) - 1) / 2.0
    )
    rk = lab.select("g", r.alias("r"), rw.alias("rw"))
    d = F.col("r") - F.col("rw")
    agg = rk.groupBy("g").agg(
        bcount("n"),
        F.sum(F.col("r").cast("decimal(28,1)")).cast("double").alias("sum_r"),
        F.sum(d.cast("decimal(28,1)")).cast("double").alias("sum_d"),
        F.sum((d * d).cast("decimal(38,2)")).cast("double").alias("sum_d2"),
    )

    def pick(col: str, grp: str):
        return F.max(F.when(F.col("g") == grp, F.col(col)))

    m = agg.agg(
        pick("n", "wd").alias("nx"),
        pick("n", "we").alias("ny"),
        (pick("sum_r", "wd") / pick("n", "wd")).alias("rbx"),
        (pick("sum_r", "we") / pick("n", "we")).alias("rby"),
        (
            (pick("sum_d2", "wd") - pick("sum_d", "wd") * pick("sum_d", "wd") / pick("n", "wd"))
            / (pick("n", "wd") - 1)
        ).alias("sx2"),
        (
            (pick("sum_d2", "we") - pick("sum_d", "we") * pick("sum_d", "we") / pick("n", "we"))
            / (pick("n", "we") - 1)
        ).alias("sy2"),
    )
    nx, ny = F.col("nx"), F.col("ny")
    sx2, sy2 = F.col("sx2"), F.col("sy2")
    pooled = nx * sx2 + ny * sy2
    return m.select(
        nx.cast("bigint").alias("n_weekday"),
        ny.cast("bigint").alias("n_weekend"),
        F.round((F.col("rby") - (ny + 1.0) / 2.0) / nx, 6).alias("p_hat"),
        F.round(
            nx * ny * (F.col("rby") - F.col("rbx")) / (nx + ny) / F.sqrt(pooled), 6
        ).alias("bm_stat"),
        F.round(
            pooled * pooled
            / ((nx * sx2) * (nx * sx2) / (nx - 1.0) + (ny * sy2) * (ny * sy2) / (ny - 1.0)),
            6,
        ).alias("df_welch"),
    )


@register(
    "q_jonckheere_terpstra",
    oracle="""
    WITH v AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    grid AS (
      SELECT g, q, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2
    ),
    j2 AS (
      SELECT CAST(SUM(a.cnt * b.cnt
                      * CASE WHEN a.q < b.q THEN 2
                             WHEN a.q = b.q THEN 1 ELSE 0 END) AS BIGINT)
               AS two_j
      FROM grid a JOIN grid b ON a.g < b.g
    ),
    gs AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sum_n2,
             CAST(SUM(cnt * (cnt - 1) * (2 * cnt + 5)) AS BIGINT) AS sum_na,
             CAST(SUM(cnt * (cnt - 1) * (cnt - 2)) AS BIGINT) AS sum_nb,
             CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS sum_nc
      FROM (SELECT g, CAST(SUM(cnt) AS BIGINT) AS cnt FROM grid GROUP BY g)
    ),
    ts AS (
      SELECT CAST(SUM(cnt * (cnt - 1) * (2 * cnt + 5)) AS BIGINT) AS sum_ta,
             CAST(SUM(cnt * (cnt - 1) * (cnt - 2)) AS BIGINT) AS sum_tb,
             CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS sum_tc
      FROM (SELECT q, CAST(SUM(cnt) AS BIGINT) AS cnt FROM grid GROUP BY q)
    ),
    fin AS (
      SELECT j.two_j, g.n, g.sum_n2,
             (CAST(g.n AS DOUBLE) * (g.n - 1.0) * (2.0 * g.n + 5.0)
              - CAST(g.sum_na AS DOUBLE) - CAST(t.sum_ta AS DOUBLE)) / 72.0
             + CAST(g.sum_nb AS DOUBLE) * CAST(t.sum_tb AS DOUBLE)
               / (36.0 * CAST(g.n AS DOUBLE) * (g.n - 1.0) * (g.n - 2.0))
             + CAST(g.sum_nc AS DOUBLE) * CAST(t.sum_tc AS DOUBLE)
               / (8.0 * CAST(g.n AS DOUBLE) * (g.n - 1.0)) AS var_j
      FROM j2 j, gs g, ts t
    )
    SELECT n AS n_rows,
           round(CAST(two_j AS DOUBLE) / 2.0, 1) AS jt_stat,
           round((CAST(n AS DOUBLE) * n - sum_n2) / 4.0, 1) AS jt_mean,
           round((CAST(two_j AS DOUBLE) / 2.0
                  - (CAST(n AS DOUBLE) * n - sum_n2) / 4.0)
                 / sqrt(var_j), 6) AS z_score,
           CASE WHEN abs((CAST(two_j AS DOUBLE) / 2.0
                  - (CAST(n AS DOUBLE) * n - sum_n2) / 4.0)
                 / sqrt(var_j)) > 1.959964
                THEN 'trend' ELSE 'no-trend' END AS verdict
    FROM fin
    """,
)
def q_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative test: does lineitem
    quantity trend monotonically across order priority 1-URGENT → 5-LOW?
    J = Σ_{i<j} Uᵢⱼ with ties counted half (2J stays in BIGINT), z-scored
    against the tie-corrected null mean (N²−Σnᵢ²)/4 and variance
    [N(N−1)(2N+5) − Σnᵢ(nᵢ−1)(2nᵢ+5) − Σt(t−1)(2t+5)]/72 +
    Σnᵢ(nᵢ−1)(nᵢ−2)·Σt(t−1)(t−2)/(36N(N−1)(N−2)) +
    Σnᵢ(nᵢ−1)·Σt(t−1)/(8N(N−1)). More power than Kruskal-Wallis when the
    alternative is ordered — the natural trend probe for priority tiers.

    Determinism: all pair counting is integer on the (priority, quantity)
    count grid; mean/variance combine a handful of BIGINT aggregates in
    fixed-order double math (products like Σn³·Σt³ exceed BIGINT, so the
    combine is double by construction).

    Scale: one star join + groupBy collapses facts to the ≤(5 priorities ×
    50 quantities) grid; the non-equi g<g' pair join is a broadcast nested
    loop over that bounded grid only (whitelisted), never the fact table.
    At ≥1e9 rows per cell, cast the cnt³ sums to DECIMAL(38,0). §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    v = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("g"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    grid = v.groupBy("g", "q").agg(bcount("cnt"))
    # checkpointed once (r6): both pair-join sides and the g/q marginals
    # each re-derived the lineitem⨝orders rollup (4 fact scans in the
    # plan); the ≤5×50 count grid materializes once
    grid = grid.localCheckpoint(eager=True)
    a, b = grid.alias("a"), grid.alias("b")
    j2 = (
        a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
        .select(
            (
                F.col("a.cnt")
                * F.col("b.cnt")
                * F.when(F.col("a.q") < F.col("b.q"), F.lit(2))
                .when(F.col("a.q") == F.col("b.q"), F.lit(1))
                .otherwise(F.lit(0))
            ).alias("t")
        )
        .agg(F.sum("t").cast("bigint").alias("two_j"))
    )
    gsz = grid.groupBy("g").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    c = F.col("cnt")
    gs = gsz.agg(
        F.sum(c).cast("bigint").alias("n"),
        F.sum(c * c).cast("bigint").alias("sum_n2"),
        F.sum(c * (c - 1) * (2 * c + 5)).cast("bigint").alias("sum_na"),
        F.sum(c * (c - 1) * (c - 2)).cast("bigint").alias("sum_nb"),
        F.sum(c * (c - 1)).cast("bigint").alias("sum_nc"),
    )
    tsz = grid.groupBy("q").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    ts = tsz.agg(
        F.sum(c * (c - 1) * (2 * c + 5)).cast("bigint").alias("sum_ta"),
        F.sum(c * (c - 1) * (c - 2)).cast("bigint").alias("sum_tb"),
        F.sum(c * (c - 1)).cast("bigint").alias("sum_tc"),
    )
    fin = j2.crossJoin(F.broadcast(gs)).crossJoin(F.broadcast(ts))
    nd = F.col("n").cast("double")
    var_j = (
        (nd * (F.col("n") - 1.0) * (2.0 * F.col("n") + 5.0)
         - F.col("sum_na").cast("double")
         - F.col("sum_ta").cast("double")) / 72.0
        + F.col("sum_nb").cast("double") * F.col("sum_tb").cast("double")
        / (36.0 * nd * (F.col("n") - 1.0) * (F.col("n") - 2.0))
        + F.col("sum_nc").cast("double") * F.col("sum_tc").cast("double")
        / (8.0 * nd * (F.col("n") - 1.0))
    )
    jt = F.col("two_j").cast("double") / 2.0
    mean_j = (nd * F.col("n") - F.col("sum_n2")) / 4.0
    z = (jt - mean_j) / F.sqrt(var_j)
    return fin.select(
        F.col("n").alias("n_rows"),
        F.round(jt, 1).alias("jt_stat"),
        F.round(mean_j, 1).alias("jt_mean"),
        F.round(z, 6).alias("z_score"),
        F.when(F.abs(z) > 1.959964, F.lit("trend"))
        .otherwise(F.lit("no-trend"))
        .alias("verdict"),
    )
