"""Analytics batch 102: two-way Granger-causality F-statistics between
daily shipped quantity and daily revenue, a zero-inflated Poisson
moment fit for per-user purchase counts, and Cp/Cpk process-capability
indices for order-to-ship lag by priority class.

Granger's test is nested-OLS: does adding x's lag to y's own lag shrink
the residual sum of squares more than chance — run in both directions,
the asymmetry is the interesting readout. The ZIP fit is the standard
answer to "too many zeros for a Poisson" (method-of-moments closed
form). Cp/Cpk are the manufacturing capability indices — how many
sigmas of headroom a process has inside its spec limits — applied to
logistics transit days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_granger_causality",
    oracle="""
    WITH d AS (
      SELECT l_shipdate AS day,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / 1e3 AS x,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / 1e6 AS y
      FROM lineitem GROUP BY 1
    ),
    g AS (
      SELECT y, x,
             lag(y) OVER (ORDER BY day) AS y1,
             lag(x) OVER (ORDER BY day) AS x1
      FROM d
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(y AS DECIMAL(38,12))) AS sy,
             SUM(CAST(x AS DECIMAL(38,12))) AS sx,
             SUM(CAST(y1 AS DECIMAL(38,12))) AS sy1,
             SUM(CAST(x1 AS DECIMAL(38,12))) AS sx1,
             SUM(CAST(y * y AS DECIMAL(38,12))) AS syy,
             SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(y1 * y1 AS DECIMAL(38,12))) AS sy1y1,
             SUM(CAST(x1 * x1 AS DECIMAL(38,12))) AS sx1x1,
             SUM(CAST(y * y1 AS DECIMAL(38,12))) AS syy1,
             SUM(CAST(y * x1 AS DECIMAL(38,12))) AS syx1,
             SUM(CAST(x * x1 AS DECIMAL(38,12))) AS sxx1,
             SUM(CAST(x * y1 AS DECIMAL(38,12))) AS sxy1,
             SUM(CAST(y1 * x1 AS DECIMAL(38,12))) AS sy1x1
      FROM g WHERE y1 IS NOT NULL AND x1 IS NOT NULL
    ),
    c AS (
      SELECT n,
        CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
        CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
        CAST(n AS DOUBLE) * CAST(sy1y1 AS DOUBLE)
          - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) AS cy1y1,
        CAST(n AS DOUBLE) * CAST(sx1x1 AS DOUBLE)
          - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) AS cx1x1,
        CAST(n AS DOUBLE) * CAST(syy1 AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy1 AS DOUBLE) AS cyy1,
        CAST(n AS DOUBLE) * CAST(syx1 AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sx1 AS DOUBLE) AS cyx1,
        CAST(n AS DOUBLE) * CAST(sxx1 AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx1 AS DOUBLE) AS cxx1,
        CAST(n AS DOUBLE) * CAST(sxy1 AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy1 AS DOUBLE) AS cxy1,
        CAST(n AS DOUBLE) * CAST(sy1x1 AS DOUBLE)
          - CAST(sy1 AS DOUBLE) * CAST(sx1 AS DOUBLE) AS cy1x1
      FROM m
    )
    SELECT 'qty_causes_rev' AS direction, n,
           round((cyy - cyy1 * cyy1 / cy1y1)
                 - (cyy - ((cyy1 * cx1x1 - cyx1 * cy1x1)
                           / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyy1
                           + (cyx1 * cy1y1 - cyy1 * cy1x1)
                           / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyx1)), 6)
             AS rss_drop,
           round(((cyy - cyy1 * cyy1 / cy1y1)
                  - (cyy - ((cyy1 * cx1x1 - cyx1 * cy1x1)
                            / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyy1
                            + (cyx1 * cy1y1 - cyy1 * cy1x1)
                            / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyx1)))
                 / ((cyy - ((cyy1 * cx1x1 - cyx1 * cy1x1)
                            / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyy1
                            + (cyx1 * cy1y1 - cyy1 * cy1x1)
                            / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyx1))
                    / (n - 3)), 6) AS f_stat
    FROM c
    UNION ALL
    SELECT 'rev_causes_qty', n,
           round((cxx - cxx1 * cxx1 / cx1x1)
                 - (cxx - ((cxx1 * cy1y1 - cxy1 * cy1x1)
                           / (cx1x1 * cy1y1 - cy1x1 * cy1x1) * cxx1
                           + (cxy1 * cx1x1 - cxx1 * cy1x1)
                           / (cx1x1 * cy1y1 - cy1x1 * cy1x1) * cxy1)), 6),
           round(((cxx - cxx1 * cxx1 / cx1x1)
                  - (cxx - ((cxx1 * cy1y1 - cxy1 * cy1x1)
                            / (cx1x1 * cy1y1 - cy1x1 * cy1x1) * cxx1
                            + (cxy1 * cx1x1 - cxx1 * cy1x1)
                            / (cx1x1 * cy1y1 - cy1x1 * cy1x1) * cxy1)))
                 / ((cxx - ((cxx1 * cy1y1 - cxy1 * cy1x1)
                            / (cx1x1 * cy1y1 - cy1x1 * cy1x1) * cxx1
                            + (cxy1 * cx1x1 - cxx1 * cy1x1)
                            / (cx1x1 * cy1y1 - cy1x1 * cy1x1) * cxy1))
                    / (n - 3)), 6)
    FROM c
    """,
)
def q_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way Granger causality at lag 1 between daily shipped quantity
    and daily revenue: for each direction, compare the restricted AR(1)
    (target on its own lag) against the unrestricted model that adds the
    other series' lag — F = ΔRSS / (RSS_u/(n−3)). A large F in one
    direction only is the Granger signature; both series here are
    near-simultaneous functions of order flow, so the test showing
    near-symmetric weak F values is itself the correct finding.

    Both OLS fits are closed-form from one decimal-exact moment pass
    (2×2 normal equations by Cramer's rule); every output is a fixed
    double expression of those moments.

    Scale: fact → |days| grid, one lag window, one moment aggregation —
    the entire test is O(scan); direction rows are two projections of
    the same 1-row moment table. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    d = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.lit(1e3)).alias("x"),
        (F.sum(dec("l_extendedprice")).cast("double") / F.lit(1e6)).alias("y"),
    )
    w = Window.orderBy("day")
    g = d.select(
        "y",
        "x",
        F.lag("y").over(w).alias("y1"),
        F.lag("x").over(w).alias("x1"),
    ).filter(F.col("y1").isNotNull() & F.col("x1").isNotNull())
    d12 = "decimal(38,12)"

    def ssum(e, alias):
        return F.sum(e.cast(d12)).alias(alias)

    y, x, y1, x1 = F.col("y"), F.col("x"), F.col("y1"), F.col("x1")
    m = g.agg(
        bcount("n"),
        ssum(y, "sy"),
        ssum(x, "sx"),
        ssum(y1, "sy1"),
        ssum(x1, "sx1"),
        ssum(y * y, "syy"),
        ssum(x * x, "sxx"),
        ssum(y1 * y1, "sy1y1"),
        ssum(x1 * x1, "sx1x1"),
        ssum(y * y1, "syy1"),
        ssum(y * x1, "syx1"),
        ssum(x * x1, "sxx1"),
        ssum(x * y1, "sxy1"),
        ssum(y1 * x1, "sy1x1"),
    )
    nd = F.col("n").cast("double")

    def dd(name):
        return F.col(name).cast("double")

    c = m.select(
        "n",
        (nd * dd("syy") - dd("sy") * dd("sy")).alias("cyy"),
        (nd * dd("sxx") - dd("sx") * dd("sx")).alias("cxx"),
        (nd * dd("sy1y1") - dd("sy1") * dd("sy1")).alias("cy1y1"),
        (nd * dd("sx1x1") - dd("sx1") * dd("sx1")).alias("cx1x1"),
        (nd * dd("syy1") - dd("sy") * dd("sy1")).alias("cyy1"),
        (nd * dd("syx1") - dd("sy") * dd("sx1")).alias("cyx1"),
        (nd * dd("sxx1") - dd("sx") * dd("sx1")).alias("cxx1"),
        (nd * dd("sxy1") - dd("sx") * dd("sy1")).alias("cxy1"),
        (nd * dd("sy1x1") - dd("sy1") * dd("sx1")).alias("cy1x1"),
    )

    def direction(label, ctt, cown, ccross, cownown, ccrosscross, cowncross):
        """RSS drop + F for target~own-lag vs target~own-lag+cross-lag."""
        rss_r = ctt - cown * cown / cownown
        det = cownown * ccrosscross - cowncross * cowncross
        b1 = (cown * ccrosscross - ccross * cowncross) / det
        b2 = (ccross * cownown - cown * cowncross) / det
        rss_u = ctt - (b1 * cown + b2 * ccross)
        f = (rss_r - rss_u) / (rss_u / (F.col("n") - 3))
        return c.select(
            F.lit(label).alias("direction"),
            "n",
            F.round(rss_r - rss_u, 6).alias("rss_drop"),
            F.round(f, 6).alias("f_stat"),
        )

    qa = direction(
        "qty_causes_rev",
        F.col("cyy"),
        F.col("cyy1"),
        F.col("cyx1"),
        F.col("cy1y1"),
        F.col("cx1x1"),
        F.col("cy1x1"),
    )
    qb = direction(
        "rev_causes_qty",
        F.col("cxx"),
        F.col("cxx1"),
        F.col("cxy1"),
        F.col("cx1x1"),
        F.col("cy1y1"),
        F.col("cy1x1"),
    )
    return qa.unionAll(qb)


@register(
    "q_zero_inflated_poisson",
    oracle="""
    WITH counts AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                  AS BIGINT) AS k
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(k) AS BIGINT) AS sk,
             CAST(SUM(k * k) AS BIGINT) AS sk2,
             CAST(COUNT(*) FILTER (WHERE k = 0) AS BIGINT) AS zeros
      FROM counts
    ),
    s AS (
      SELECT n_users, zeros,
             CAST(sk AS DOUBLE) / n_users AS mean_k,
             (CAST(n_users AS DOUBLE) * sk2 - CAST(sk AS DOUBLE) * sk)
               / (CAST(n_users AS DOUBLE) * (n_users - 1)) AS var_k
      FROM m
    )
    SELECT n_users, zeros,
           round(mean_k, 6) AS mean_k,
           round(var_k, 6) AS var_k,
           round(CAST(zeros AS DOUBLE) / n_users, 6) AS zero_frac_obs,
           round(exp(-mean_k), 6) AS p0_poisson,
           round((var_k + mean_k * mean_k - mean_k) / mean_k, 6)
             AS lambda_zip,
           round(1 - mean_k / ((var_k + mean_k * mean_k - mean_k)
                               / mean_k), 6) AS pi_zip,
           round((1 - mean_k / ((var_k + mean_k * mean_k - mean_k)
                                / mean_k))
                 + (mean_k / ((var_k + mean_k * mean_k - mean_k) / mean_k))
                   * exp(-(var_k + mean_k * mean_k - mean_k) / mean_k), 6)
             AS p0_zip
    FROM s
    """,
)
def q_zero_inflated_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflated Poisson moment fit of per-user purchase counts:
    when the observed zero fraction beats exp(−mean) (the Poisson
    prediction), the ZIP closed form λ̂ = (s² + m² − m)/m,
    π̂ = 1 − m/λ̂ splits the population into a never-purchasing mass π
    and a Poisson(λ) purchasing segment — the standard first model for
    over-zeroed count data (cf. q_negative_binomial_fit, which instead
    spreads the overdispersion continuously). The p0_zip vs
    zero_frac_obs gap is the fit check.

    All moments are integer-exact (counts and squared counts in
    BIGINT); the closed forms are fixed double expressions, exp()
    rounds inside the ulp margin.

    Scale: one user-keyed count aggregation (map-side combined) and a
    1-row moment fold — O(scan). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("k")
    )
    m = counts.agg(
        bcount("n_users"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sk2"),
        F.count_if(F.col("k") == 0).cast("bigint").alias("zeros"),
    )
    nd = F.col("n_users").cast("double")
    mean_k = F.col("sk").cast("double") / F.col("n_users")
    var_k = (nd * F.col("sk2") - F.col("sk").cast("double") * F.col("sk")) / (
        nd * (F.col("n_users") - 1)
    )
    s = m.select(
        "n_users", "zeros", mean_k.alias("mean_k"), var_k.alias("var_k")
    )
    mk, vk = F.col("mean_k"), F.col("var_k")
    lam = (vk + mk * mk - mk) / mk
    pi = 1 - mk / lam
    return s.select(
        "n_users",
        "zeros",
        F.round(mk, 6).alias("mean_k"),
        F.round(vk, 6).alias("var_k"),
        F.round(F.col("zeros").cast("double") / F.col("n_users"), 6).alias(
            "zero_frac_obs"
        ),
        F.round(F.exp(-mk), 6).alias("p0_poisson"),
        F.round(lam, 6).alias("lambda_zip"),
        F.round(pi, 6).alias("pi_zip"),
        F.round(pi + (mk / lam) * F.exp(-lam), 6).alias("p0_zip"),
    )


_SPEC_LSL, _SPEC_USL = 1, 90


@register(
    "q_process_capability",
    oracle=f"""
    WITH t AS (
      SELECT o.o_orderpriority,
             CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
               AS transit
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    m AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(transit) AS BIGINT) AS st,
             CAST(SUM(transit * transit) AS BIGINT) AS st2,
             CAST(COUNT(*) FILTER (WHERE transit < {_SPEC_LSL}
                                      OR transit > {_SPEC_USL})
                  AS BIGINT) AS n_out
      FROM t GROUP BY 1
    ),
    s AS (
      SELECT o_orderpriority, n, n_out,
             CAST(st AS DOUBLE) / n AS mu,
             sqrt((CAST(n AS DOUBLE) * st2 - CAST(st AS DOUBLE) * st)
                  / (CAST(n AS DOUBLE) * (n - 1))) AS sigma
      FROM m
    )
    SELECT o_orderpriority, n,
           round(mu, 6) AS mu,
           round(sigma, 6) AS sigma,
           round(({_SPEC_USL} - {_SPEC_LSL}) / (6 * sigma), 6) AS cp,
           round(LEAST({_SPEC_USL} - mu, mu - {_SPEC_LSL}) / (3 * sigma), 6)
             AS cpk,
           round(CAST(n_out AS DOUBLE) / n * 1000000, 3)
             AS ppm_out_of_spec
    FROM s
    """,
)
def q_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cp/Cpk process-capability indices for order-to-ship lag (days
    from order date to line ship date) by order priority against a
    1–90-day SLA window: Cp = spec-width/6σ is the best-case
    capability, Cpk = nearest-limit margin/3σ penalizes off-center
    processes (Cpk ≥ 1.33 is the classic "capable" bar), and the
    observed defect rate is reported in ppm — the SPC summary a
    fulfillment SLA review runs per priority class. Complements the
    time-ordered q_xmr_control_chart with the spec-relative view.

    Lag days are integers, so all moments are BIGINT-exact; μ, σ, and
    the indices are fixed double expressions; ppm rounds as a double
    (no integer-rounding boundary).

    Scale: the lineitem⋈orders star join on the clustered orderkey
    (whitelisted SMJ, same stance as q20/q21), then one
    map-side-combined aggregation keyed by the 5 priority classes.
    §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    t = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("transit"),
    )
    out = (F.col("transit") < _SPEC_LSL) | (F.col("transit") > _SPEC_USL)
    m = t.groupBy("o_orderpriority").agg(
        bcount("n"),
        F.sum("transit").cast("bigint").alias("st"),
        F.sum(F.col("transit") * F.col("transit")).cast("bigint").alias("st2"),
        F.count_if(out).cast("bigint").alias("n_out"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("st").cast("double") / F.col("n")
    sigma = F.sqrt(
        (nd * F.col("st2") - F.col("st").cast("double") * F.col("st"))
        / (nd * (F.col("n") - 1))
    )
    s = m.select(
        "o_orderpriority", "n", "n_out", mu.alias("mu"), sigma.alias("sigma")
    )
    return s.select(
        "o_orderpriority",
        "n",
        F.round("mu", 6).alias("mu"),
        F.round("sigma", 6).alias("sigma"),
        F.round((_SPEC_USL - _SPEC_LSL) / (6 * F.col("sigma")), 6).alias("cp"),
        F.round(
            F.least(_SPEC_USL - F.col("mu"), F.col("mu") - _SPEC_LSL)
            / (3 * F.col("sigma")),
            6,
        ).alias("cpk"),
        F.round(
            F.col("n_out").cast("double") / F.col("n") * 1000000, 3
        ).alias("ppm_out_of_spec"),
    )
