"""Analytics batch 108: Bayesian A/B posterior comparison on a grid,
one-feature Poisson GLM by Newton scoring, and the James-Stein
positive-part shrinkage estimator.

The Bayesian A/B pair (P(B>A), expected loss) is what modern
experimentation dashboards show instead of p-values — computed here by
exact grid quadrature over the two Beta posteriors, with log-space
normalization so no gamma function is needed. The Poisson GLM is the
canonical count-data regression (purchases on log-activity) fit by the
same iterated-reweighted scheme as batch-53's logistic. James-Stein is
the famous "inadmissibility of the sample mean" estimator: shrink the
25 nation means toward the grand mean by a single data-driven factor
and dominate the raw means in total squared error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register

_GRID_N = 201
_NEWTON_STEPS = 4


@register(
    "q_bayes_ab_grid",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 1 THEN 'B' ELSE 'A' END AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1
    ),
    arms AS (
      SELECT arm, CAST(SUM(converted) AS BIGINT) AS s,
             CAST(COUNT(*) - SUM(converted) AS BIGINT) AS f
      FROM per_user GROUP BY 1
    ),
    grid AS (
      SELECT g AS gi, (CAST(g AS DOUBLE) + 0.5) / {_GRID_N} AS p
      FROM generate_series(0, {_GRID_N - 1}) AS t(g)
    ),
    lw AS (
      SELECT a.arm, g.gi, g.p,
             CAST(a.s AS DOUBLE) * ln(g.p)
             + CAST(a.f AS DOUBLE) * ln(1.0 - g.p) AS logw
      FROM arms a, grid g
    ),
    mx AS (SELECT arm, MAX(logw) AS m FROM lw GROUP BY 1),
    w AS (
      SELECT lw.arm, lw.gi, lw.p, exp(lw.logw - mx.m) AS w
      FROM lw JOIN mx USING (arm)
    ),
    z AS (
      SELECT arm, CAST(SUM(CAST(w AS DECIMAL(38,15))) AS DOUBLE) AS z
      FROM w GROUP BY 1
    ),
    nw AS (
      SELECT w.arm, w.gi, w.p, w.w / z.z AS w FROM w JOIN z USING (arm)
    ),
    cum_a AS (
      SELECT gi, p,
             CAST(COALESCE(SUM(CAST(w AS DECIMAL(38,15))) OVER (
               ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS DOUBLE)
             + 0.5 * w AS ca
      FROM nw WHERE arm = 'A'
    ),
    prob AS (
      SELECT CAST(SUM(CAST(b.w * c.ca AS DECIMAL(38,15))) AS DOUBLE) AS p_b_gt_a
      FROM (SELECT gi, w FROM nw WHERE arm = 'B') b
      JOIN cum_a c ON c.gi = b.gi
    ),
    loss AS (
      SELECT CAST(SUM(CAST(a.w * b.w * GREATEST(a.p - b.p, 0.0)
                           AS DECIMAL(38,15))) AS DOUBLE) AS el_b,
             CAST(SUM(CAST(a.w * b.w * GREATEST(b.p - a.p, 0.0)
                           AS DECIMAL(38,15))) AS DOUBLE) AS el_a
      FROM (SELECT p, w FROM nw WHERE arm = 'A') a,
           (SELECT p, w FROM nw WHERE arm = 'B') b
    ),
    post AS (
      SELECT arm,
             CAST(SUM(CAST(p * w AS DECIMAL(38,15))) AS DOUBLE) AS pmean
      FROM nw GROUP BY 1
    )
    SELECT (SELECT s FROM arms WHERE arm = 'A') AS conv_a,
           (SELECT f FROM arms WHERE arm = 'A') AS fail_a,
           (SELECT s FROM arms WHERE arm = 'B') AS conv_b,
           (SELECT f FROM arms WHERE arm = 'B') AS fail_b,
           round((SELECT pmean FROM post WHERE arm = 'A'), 6) AS post_mean_a,
           round((SELECT pmean FROM post WHERE arm = 'B'), 6) AS post_mean_b,
           round(prob.p_b_gt_a, 6) AS p_b_beats_a,
           round(loss.el_b, 8) AS expected_loss_choose_b,
           round(loss.el_a, 8) AS expected_loss_choose_a
    FROM prob, loss
    """,
)
def q_bayes_ab_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B read-out for the odd/even user-id split on user
    conversion (any purchase): Beta(1+s, 1+f) posteriors evaluated on a
    201-point midpoint grid in log space (max-subtracted, so no gamma
    function and no underflow), normalized to discrete weights; then
    P(B>A) by the cumulative-weight quadrature with the half-cell tie
    term, and both one-sided expected losses E[max(p_A−p_B, 0)] /
    E[max(p_B−p_A, 0)] by the full 201² product-grid sum — the
    decision quantities (ship-if-loss-below-ε) that replace the z-test
    of q_ab_conversion_lift in a Bayesian shop.

    Determinism: arm counts are integers; grid points are exact
    rationals; every quadrature term is cast DECIMAL(38,15) before
    summing, so neither engine's aggregation order matters.

    Scale: one per-user rollup (map-side combine), then all math on the
    fixed 201-point grid — the 201² loss cross-product is 40k rows
    regardless of data size (whitelisted BNLJ/cartesian by design).
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    ).select(
        F.when(F.col("user_id") % 2 == 1, "B").otherwise("A").alias("arm"),
        "converted",
    )
    # checkpointed once (r6): the 2-row arm table feeds the whole grid
    # pipeline, whose many references re-derived the per-user events
    # rollup 21 times in the final plan
    arms = per_user.groupBy("arm").agg(
        F.sum("converted").cast("bigint").alias("s"),
        (F.count(F.lit(1)) - F.sum("converted")).cast("bigint").alias("f"),
    ).localCheckpoint(eager=True)
    # integer grid index `gi` rides alongside p so the B↔cum_A match-up
    # joins on an exact integer key, never on a computed double (ADVICE r1)
    grid = spark.range(_GRID_N).select(
        F.col("id").alias("gi"),
        ((F.col("id").cast("double") + 0.5) / _GRID_N).alias("p"),
    )
    lw = arms.crossJoin(F.broadcast(grid)).select(
        "arm",
        "gi",
        "p",
        (
            F.col("s").cast("double") * F.log("p")
            + F.col("f").cast("double") * F.log(F.lit(1.0) - F.col("p"))
        ).alias("logw"),
    )
    mx = lw.groupBy("arm").agg(F.max("logw").alias("m"))
    w = lw.join(F.broadcast(mx), "arm").select(
        "arm", "gi", "p", F.exp(F.col("logw") - F.col("m")).alias("w")
    )
    z = w.groupBy("arm").agg(F.sum(F.col("w").cast(D15)).cast("double").alias("z"))
    nw = w.join(F.broadcast(z), "arm").select(
        "arm", "gi", "p", (F.col("w") / F.col("z")).alias("w")
    )
    from pyspark.sql import Window

    wa = nw.filter(F.col("arm") == "A")
    wb = nw.filter(F.col("arm") == "B")
    cum_a = wa.select(
        "gi",
        (
            F.coalesce(
                F.sum(F.col("w").cast(D15)).over(
                    Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast(D15),
            ).cast("double")
            + 0.5 * F.col("w")
        ).alias("ca"),
    )
    prob = (
        wb.join(F.broadcast(cum_a), "gi")
        .agg(F.sum((F.col("w") * F.col("ca")).cast(D15)).cast("double").alias("p_b_gt_a"))
    )
    a_g = wa.select(F.col("p").alias("pa"), F.col("w").alias("wa_"))
    b_g = wb.select(F.col("p").alias("pb"), F.col("w").alias("wb_"))
    loss = a_g.crossJoin(b_g).agg(
        F.sum(
            (F.col("wa_") * F.col("wb_") * F.greatest(F.col("pa") - F.col("pb"), F.lit(0.0))).cast(D15)
        )
        .cast("double")
        .alias("el_b"),
        F.sum(
            (F.col("wa_") * F.col("wb_") * F.greatest(F.col("pb") - F.col("pa"), F.lit(0.0))).cast(D15)
        )
        .cast("double")
        .alias("el_a"),
    )
    post = nw.groupBy("arm").agg(
        F.sum((F.col("p") * F.col("w")).cast(D15)).cast("double").alias("pmean")
    )
    counts = arms.groupBy().pivot("arm", ["A", "B"]).agg(
        F.max("s").alias("s"), F.max("f").alias("f")
    )
    pm = post.groupBy().pivot("arm", ["A", "B"]).agg(F.max("pmean"))
    return (
        counts.crossJoin(F.broadcast(pm))
        .crossJoin(F.broadcast(prob))
        .crossJoin(F.broadcast(loss))
        .select(
            F.col("A_s").alias("conv_a"),
            F.col("A_f").alias("fail_a"),
            F.col("B_s").alias("conv_b"),
            F.col("B_f").alias("fail_b"),
            F.round("A", 6).alias("post_mean_a"),
            F.round("B", 6).alias("post_mean_b"),
            F.round("p_b_gt_a", 6).alias("p_b_beats_a"),
            F.round("el_b", 8).alias("expected_loss_choose_b"),
            F.round("el_a", 8).alias("expected_loss_choose_a"),
        )
    )


def _pois_step_sql(k: int, prev: str) -> str:
    """One Newton-scoring step on the Poisson GLM: 1-row normal-equation
    accumulators (every term DECIMAL(38,15)-cast per row, matching the
    Spark side op-for-op) then the closed-form 2x2 solve."""
    return f"""
    a{k} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(exp(b.b0 + b.b1 * u.x)
                           AS DECIMAL(38,15))) AS DOUBLE) AS w0,
             CAST(SUM(CAST(exp(b.b0 + b.b1 * u.x) * u.x
                           AS DECIMAL(38,15))) AS DOUBLE) AS w1,
             CAST(SUM(CAST(exp(b.b0 + b.b1 * u.x) * u.x * u.x
                           AS DECIMAL(38,15))) AS DOUBLE) AS w2,
             CAST(SUM(CAST(u.y - exp(b.b0 + b.b1 * u.x)
                           AS DECIMAL(38,15))) AS DOUBLE) AS g0,
             CAST(SUM(CAST((u.y - exp(b.b0 + b.b1 * u.x)) * u.x
                           AS DECIMAL(38,15))) AS DOUBLE) AS g1,
             MAX(b.b0) AS b0, MAX(b.b1) AS b1
      FROM per_user u, {prev} b
    ),
    n{k} AS MATERIALIZED (
      SELECT b0 + (w2 * g0 - w1 * g1) / (w0 * w2 - w1 * w1) AS b0,
             b1 + (w0 * g1 - w1 * g0) / (w0 * w2 - w1 * w1) AS b1
      FROM a{k}
    )"""


_POIS_CHAIN = ",".join(
    _pois_step_sql(k, f"n{k - 1}" if k > 1 else "bini")
    for k in range(1, 4 + 1)  # _NEWTON_STEPS
)


@register(
    "q_poisson_glm_newton",
    oracle=f"""
    WITH per_user AS MATERIALIZED (
      SELECT ln(CAST(COUNT(*) AS DOUBLE)) AS x,
             CAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                           END) AS BIGINT) AS DOUBLE) AS y
      FROM events GROUP BY user_id
    ),
    ybar AS MATERIALIZED (
      SELECT CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS yb
      FROM per_user
    ),
    bini AS (SELECT ln(yb + 1e-12) AS b0, CAST(0.0 AS DOUBLE) AS b1
             FROM ybar),
    {_POIS_CHAIN},
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             MAX(b.b0) AS b0, MAX(b.b1) AS b1,
             2.0 * CAST(SUM(CAST(
               (CASE WHEN u.y > 0
                     THEN u.y * ln(u.y / exp(b.b0 + b.b1 * u.x))
                     ELSE 0.0 END)
               - (u.y - exp(b.b0 + b.b1 * u.x)) AS DECIMAL(38,15)))
               AS DOUBLE) AS dev,
             2.0 * CAST(SUM(CAST(
               (CASE WHEN u.y > 0 THEN u.y * ln(u.y / w.yb) ELSE 0.0 END)
               - (u.y - w.yb) AS DECIMAL(38,15))) AS DOUBLE) AS dev0
      FROM per_user u, n4 b, ybar w
    )
    SELECT n_users,
           round(b0, 6) AS beta0,
           round(b1, 6) AS beta1,
           round(dev, 6) AS deviance,
           round(dev0, 6) AS null_deviance,
           round(1.0 - dev / dev0, 6) AS mcfadden_r2
    FROM fit
    """,
)
def q_poisson_glm_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-feature Poisson GLM fit by 4 Newton-scoring steps: per-user
    purchase count y regressed on x = ln(total events), canonical log
    link μ = exp(β₀+β₁x). Each step accumulates the 2×2 weighted
    normal equations (Σμ, Σμx, Σμx², Σ(y−μ), Σ(y−μ)x) in one
    map-side-combined pass with the 1-row β broadcast, then solves in
    closed form — the count-data sibling of q_logistic_newton. Returns
    β, the model deviance 2Σ[y ln(y/μ) − (y−μ)], and the null deviance,
    so McFadden-style fit quality is visible.

    Determinism: every accumulated term is cast DECIMAL(38,15); the
    2×2 solve is a fixed double expression.

    Scale: iteration count fixed at 4; each step is one map-side-
    combined aggregation over the |users| feature rollup (at 100 TB
    you'd materialize that rollup once — here the scan is the cached
    testdata relation). §2.B [NS]. Oracle: 4-step chained-CTE Newton
    (the q_cox_ph_newton pattern) — full value-hash parity.
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        bcount("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).select(
        F.log(F.col("n_events").cast("double")).alias("x"),
        F.col("y").cast("double").alias("y"),
    )
    # checkpointed once (r6): ybar + the 4 Newton steps + the deviance
    # pass each re-derived the fact rollup (7 events scans in the plan) —
    # the docstring's "at 100 TB you'd materialize that rollup once" is
    # now what actually happens, at every scale
    per_user = per_user.localCheckpoint(eager=True)
    ybar = per_user.agg(
        (F.sum(dec("y")).cast("double") / F.count(F.lit(1))).alias("yb")
    )
    beta = ybar.select(
        F.log(F.col("yb") + 1e-12).alias("b0"), F.lit(0.0).alias("b1")
    )
    for _ in range(_NEWTON_STEPS):
        mu = F.exp(F.col("b0") + F.col("b1") * F.col("x"))
        acc = per_user.crossJoin(F.broadcast(beta)).agg(
            F.sum(mu.cast(D15)).cast("double").alias("w0"),
            F.sum((mu * F.col("x")).cast(D15)).cast("double").alias("w1"),
            F.sum((mu * F.col("x") * F.col("x")).cast(D15))
            .cast("double")
            .alias("w2"),
            F.sum((F.col("y") - mu).cast(D15)).cast("double").alias("g0"),
            F.sum(((F.col("y") - mu) * F.col("x")).cast(D15))
            .cast("double")
            .alias("g1"),
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
        )
        det = F.col("w0") * F.col("w2") - F.col("w1") * F.col("w1")
        beta = acc.select(
            (
                F.col("b0")
                + (F.col("w2") * F.col("g0") - F.col("w1") * F.col("g1")) / det
            ).alias("b0"),
            (
                F.col("b1")
                + (F.col("w0") * F.col("g1") - F.col("w1") * F.col("g0")) / det
            ).alias("b1"),
        )
    mu = F.exp(F.col("b0") + F.col("b1") * F.col("x"))
    ydev = F.when(
        F.col("y") > 0, F.col("y") * F.log(F.col("y") / mu)
    ).otherwise(F.lit(0.0)) - (F.col("y") - mu)
    munull = F.col("yb")
    ynull = F.when(
        F.col("y") > 0, F.col("y") * F.log(F.col("y") / munull)
    ).otherwise(F.lit(0.0)) - (F.col("y") - munull)
    fit = (
        per_user.crossJoin(F.broadcast(beta))
        .crossJoin(F.broadcast(ybar))
        .agg(
            bcount("n_users"),
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
            (F.lit(2.0) * F.sum(ydev.cast(D15)).cast("double")).alias("dev"),
            (F.lit(2.0) * F.sum(ynull.cast(D15)).cast("double")).alias("dev0"),
        )
    )
    return fit.select(
        "n_users",
        F.round("b0", 6).alias("beta0"),
        F.round("b1", 6).alias("beta1"),
        F.round("dev", 6).alias("deviance"),
        F.round("dev0", 6).alias("null_deviance"),
        F.round(F.lit(1.0) - F.col("dev") / F.col("dev0"), 6).alias(
            "mcfadden_r2"
        ),
    )


@register(
    "q_james_stein",
    oracle="""
    WITH x AS (
      SELECT n.n_name AS grp, c.c_acctbal AS v
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS svv
      FROM x GROUP BY 1
    ),
    pool AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(sv / ng AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS grand,
             CAST(SUM(CAST((svv - sv * sv / ng) / (ng - 1) / ng
                           AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
               AS sigma2_mean
      FROM g
    ),
    ss AS (
      SELECT CAST(SUM(CAST((g.sv / g.ng - p.grand) * (g.sv / g.ng - p.grand)
                           AS DECIMAL(38,15))) AS DOUBLE) AS s2,
             MAX(p.k) AS k, MAX(p.grand) AS grand,
             MAX(p.sigma2_mean) AS sigma2
      FROM g, pool p
    )
    SELECT g.grp AS nation,
           g.ng AS n_customers,
           round(g.sv / g.ng, 6) AS raw_mean,
           round(GREATEST(0.0, 1.0 - (ss.k - 3) * ss.sigma2 / ss.s2), 6)
             AS shrink_factor,
           round(ss.grand
                 + GREATEST(0.0, 1.0 - (ss.k - 3) * ss.sigma2 / ss.s2)
                   * (g.sv / g.ng - ss.grand), 6) AS js_estimate
    FROM g, ss
    ORDER BY nation
    """,
)
def q_james_stein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """James-Stein positive-part shrinkage of the 25 per-nation mean
    balances toward the grand mean of means: factor
    c = max(0, 1 − (k−3)·σ̄²/Σ(x̄_g − x̄)²) with σ̄² the average
    squared standard error of a nation mean — the classic estimator
    that dominates the raw means in total squared error whenever k ≥ 4.
    Differs from q_eb_shrinkage (per-group weights from a fitted prior)
    by using the single global factor of Stein's original construction.

    Determinism: per-nation moments are exact DECIMAL sums; the factor
    and estimates are fixed double expressions of those sums (GREATEST
    is exact); means-of-means terms ride DECIMAL(38,15).

    Scale: one fact rollup to |nations| rows, then constant-size math
    with 1-row pooled stats broadcast (whitelisted BNLJ). §2.B [NS].
    """
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    x = cust.join(
        F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey")
    ).select(F.col("n_name").alias("grp"), F.col("c_acctbal").alias("v"))
    g = x.groupBy("grp").agg(
        bcount("ng"),
        F.sum(dec("v")).cast("double").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
        .cast("double")
        .alias("svv"),
    )
    # checkpointed once (r6): pool/ss/final each re-derived the
    # customer⨝nation moment rollup (3 fact scans in the plan); the
    # ≤|nations|-row grid materializes once
    g = g.localCheckpoint(eager=True)
    mean_g = F.col("sv") / F.col("ng")
    se2_g = (F.col("svv") - F.col("sv") * F.col("sv") / F.col("ng")) / (
        F.col("ng") - 1
    ) / F.col("ng")
    pool = g.agg(
        bcount("k"),
        (F.sum(mean_g.cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "grand"
        ),
        (F.sum(se2_g.cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "sigma2"
        ),
    )
    ss = g.crossJoin(F.broadcast(pool)).agg(
        F.sum(((mean_g - F.col("grand")) * (mean_g - F.col("grand"))).cast(D15))
        .cast("double")
        .alias("s2"),
        F.max("k").alias("k"),
        F.max("grand").alias("grand"),
        F.max("sigma2").alias("sigma2"),
    )
    shrink = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - (F.col("k") - 3) * F.col("sigma2") / F.col("s2"),
    )
    return (
        g.crossJoin(F.broadcast(ss))
        .select(
            F.col("grp").alias("nation"),
            F.col("ng").alias("n_customers"),
            F.round(mean_g, 6).alias("raw_mean"),
            F.round(shrink, 6).alias("shrink_factor"),
            F.round(F.col("grand") + shrink * (mean_g - F.col("grand")), 6).alias(
                "js_estimate"
            ),
        )
        .orderBy("nation")
    )
