"""Analytics batch 125: instrumental-variables (Wald) estimation,
Oaxaca–Blinder gap decomposition, and Page's trend test.

The Wald IV estimator is the simplest causal workhorse when treatment is
endogenous but a binary instrument exists: β = cov(z,y)/cov(z,x), i.e.
the outcome jump over the treatment jump across instrument groups, with
the first-stage F diagnosing instrument strength. Oaxaca–Blinder is the
canonical gap accounting (labor economics' wage-gap tool): how much of a
between-group outcome difference is explained by observable endowments
vs differing returns. Page's L extends Friedman's test (already here) to
ORDERED alternatives across blocks — "does revenue rank monotonically
improve across years within each brand?".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register


@register(
    "q_iv_wald_estimator",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN isodow(ts) IN (6,7) THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) > 0.3 AS z,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    arms AS (
      SELECT z, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mx,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS my
      FROM per_user GROUP BY 1
    ),
    devs AS (
      SELECT p.z,
             CAST(SUM(CAST((p.x - a.mx) * (p.x - a.mx) AS DECIMAL(38,15)))
                  AS DOUBLE) AS ssx
      FROM per_user p JOIN arms a ON a.z = p.z GROUP BY p.z
    ),
    stats AS (
      SELECT MAX(CASE WHEN a.z THEN a.n END) AS n1,
             MAX(CASE WHEN NOT a.z THEN a.n END) AS n0,
             MAX(CASE WHEN a.z THEN a.mx END)
               - MAX(CASE WHEN NOT a.z THEN a.mx END) AS dx,
             MAX(CASE WHEN a.z THEN a.my END)
               - MAX(CASE WHEN NOT a.z THEN a.my END) AS dy,
             MAX(CASE WHEN a.z THEN d.ssx / (a.n * (a.n - 1)) END)
               + MAX(CASE WHEN NOT a.z THEN d.ssx / (a.n * (a.n - 1)) END)
               AS var_dx
      FROM arms a JOIN devs d ON d.z = a.z
    )
    SELECT n0 AS n_z0, n1 AS n_z1,
           round(dx, 6) AS first_stage_dx,
           round(dy, 6) AS reduced_form_dy,
           round(dy / dx, 6) AS beta_iv,
           round(dx * dx / var_dx, 6) AS first_stage_f
    FROM stats
    """,
)
def q_iv_wald_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald IV estimate of the effect of clicking on purchasing: the
    binary instrument is "weekend-heavy user" (>30% of events on
    weekends); β_IV = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) — the reduced-form outcome jump
    over the first-stage treatment jump — with the first-stage
    F ≈ (Δx̄)²/Var(Δx̄) as the weak-instrument diagnostic (F < 10 means
    don't trust β). The endogeneity-robust companion to the OLS/GLM fits
    (q_ols_daily_trend, q_poisson_glm_newton) and the causal family
    (q_ipw_ate, q_diff_in_diff, q_regression_discontinuity).

    Determinism: per-user aggregates and per-arm means use exact decimal
    sums; variances are two-pass.

    Scale: one per-user rollup, one 2-row arm aggregation with means
    broadcast back for the deviation pass. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    wk = F.dayofweek("ts").isin(1, 7)
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(wk, 1).otherwise(0)).cast("double") / F.count(F.lit(1))
            > 0.3
        ).alias("z"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    )
    # checkpointed once (r6): the arm means and the deviation join each
    # re-derived the per-user rollup (3 events scans in the plan); the
    # grid materializes once (state linear in the user domain)
    per_user = per_user.localCheckpoint(eager=True)
    arms = per_user.groupBy("z").agg(
        bcount("n"),
        (F.sum(F.col("x").cast(D15)).cast("double") / F.count(F.lit(1))).alias("mx"),
        (F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))).alias("my"),
    )
    devs = (
        per_user.join(F.broadcast(arms), "z")
        .groupBy("z", "n")
        .agg(
            F.sum(((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))).cast(D15))
            .cast("double")
            .alias("ssx")
        )
    )
    stats = (
        arms.join(devs.select("z", "ssx"), "z")
        .agg(
            F.max(F.when(F.col("z"), F.col("n"))).alias("n1"),
            F.max(F.when(~F.col("z"), F.col("n"))).alias("n0"),
            (
                F.max(F.when(F.col("z"), F.col("mx")))
                - F.max(F.when(~F.col("z"), F.col("mx")))
            ).alias("dx"),
            (
                F.max(F.when(F.col("z"), F.col("my")))
                - F.max(F.when(~F.col("z"), F.col("my")))
            ).alias("dy"),
            (
                F.max(
                    F.when(F.col("z"), F.col("ssx") / (F.col("n") * (F.col("n") - 1)))
                )
                + F.max(
                    F.when(~F.col("z"), F.col("ssx") / (F.col("n") * (F.col("n") - 1)))
                )
            ).alias("var_dx"),
        )
    )
    return stats.select(
        F.col("n0").alias("n_z0"),
        F.col("n1").alias("n_z1"),
        F.round("dx", 6).alias("first_stage_dx"),
        F.round("dy", 6).alias("reduced_form_dy"),
        F.round(F.col("dy") / F.col("dx"), 6).alias("beta_iv"),
        F.round(F.col("dx") * F.col("dx") / F.col("var_dx"), 6).alias(
            "first_stage_f"
        ),
    )


@register(
    "q_oaxaca_blinder",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN isodow(ts) IN (6,7) THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) > 0.3 AS grp_a,
             ln(1.0 + COUNT(*)) AS x,
             CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,6))) AS DOUBLE)
               AS y
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT grp_a,
             CAST(COUNT(*) AS DOUBLE) AS k,
             CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) AS sxx
      FROM per_user GROUP BY 1
    ),
    fits AS (
      SELECT grp_a,
             sx / k AS mx, sy / k AS my,
             (k * sxy - sx * sy) / (k * sxx - sx * sx) AS beta,
             (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k
               AS alpha
      FROM mom
    )
    SELECT round(MAX(CASE WHEN grp_a THEN my END)
                 - MAX(CASE WHEN NOT grp_a THEN my END), 6) AS total_gap,
           round((MAX(CASE WHEN grp_a THEN mx END)
                  - MAX(CASE WHEN NOT grp_a THEN mx END))
                 * MAX(CASE WHEN NOT grp_a THEN beta END), 6)
             AS explained_endowments,
           round(MAX(CASE WHEN grp_a THEN mx END)
                 * (MAX(CASE WHEN grp_a THEN beta END)
                    - MAX(CASE WHEN NOT grp_a THEN beta END))
                 + (MAX(CASE WHEN grp_a THEN alpha END)
                    - MAX(CASE WHEN NOT grp_a THEN alpha END)), 6)
             AS unexplained_returns,
           round(MAX(CASE WHEN grp_a THEN beta END), 6) AS beta_a,
           round(MAX(CASE WHEN NOT grp_a THEN beta END), 6) AS beta_b
    FROM fits
    """,
)
def q_oaxaca_blinder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca–Blinder two-fold decomposition of the total-value gap
    between weekend-heavy (A) and weekday-heavy (B) users, with
    x = ln(1+activity) the observable endowment: per-group OLS y~x in
    closed form, then gap = ȳ_A − ȳ_B splits into
    (x̄_A − x̄_B)·β_B (EXPLAINED: A simply has more activity, priced at
    B's returns) + [x̄_A(β_A − β_B) + (α_A − α_B)] (UNEXPLAINED:
    different returns/intercepts). The canonical gap-accounting tool
    next to q_mix_shift_decomposition (shares) and q_lmdi_decomposition
    (multiplicative drivers).

    Determinism: all OLS moments ride DECIMAL(38,15); decomposition is
    closed-form double on a 2-row grid.

    Scale: one per-user rollup, one 2-group moment pass. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    wk = F.dayofweek("ts").isin(1, 7)
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(wk, 1).otherwise(0)).cast("double") / F.count(F.lit(1))
            > 0.3
        ).alias("grp_a"),
        F.log(F.lit(1.0) + F.count(F.lit(1)).cast("double")).alias("x"),
        F.sum(dec(F.coalesce(F.col("value"), F.lit(0)))).cast("double").alias("y"),
    )
    mom = per_user.groupBy("grp_a").agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("x").cast(D15)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(D15)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(D15)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(D15)).cast("double").alias("sxx"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fits = mom.select(
        "grp_a",
        (F.col("sx") / F.col("k")).alias("mx"),
        (F.col("sy") / F.col("k")).alias("my"),
        beta.alias("beta"),
        ((F.col("sy") - beta * F.col("sx")) / F.col("k")).alias("alpha"),
    )
    ga = lambda c: F.max(F.when(F.col("grp_a"), F.col(c)))  # noqa: E731
    gb = lambda c: F.max(F.when(~F.col("grp_a"), F.col(c)))  # noqa: E731
    return fits.agg(
        F.round(ga("my") - gb("my"), 6).alias("total_gap"),
        F.round((ga("mx") - gb("mx")) * gb("beta"), 6).alias(
            "explained_endowments"
        ),
        F.round(
            ga("mx") * (ga("beta") - gb("beta")) + (ga("alpha") - gb("alpha")), 6
        ).alias("unexplained_returns"),
        F.round(ga("beta"), 6).alias("beta_a"),
        F.round(gb("beta"), 6).alias("beta_b"),
    )


@register(
    "q_page_trend_test",
    oracle="""
    WITH yb AS (
      SELECT p.p_brand AS brand, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    full_b AS MATERIALIZED (
      SELECT brand FROM yb GROUP BY brand
      HAVING COUNT(*) = (SELECT COUNT(DISTINCT yr) FROM yb)
    ),
    ranked AS (
      SELECT y.brand,
             CAST(row_number() OVER (PARTITION BY y.brand
               ORDER BY y.rev, y.yr) AS BIGINT) AS r,
             CAST(dense_rank() OVER (ORDER BY y.yr) AS BIGINT) AS j
      FROM yb y JOIN full_b f ON f.brand = y.brand
    ),
    sums AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM full_b) AS n,
             (SELECT CAST(COUNT(DISTINCT yr) AS BIGINT) FROM yb) AS k,
             CAST(SUM(CAST(j * r AS DECIMAL(38,15))) AS DOUBLE) AS l
      FROM ranked
    )
    SELECT n AS n_brands, k AS n_years,
           round(l, 4) AS page_l,
           round(CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4.0, 4)
             AS e_l,
           round((l - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4.0)
                 / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1)
                        * (k * k - 1) / 144.0), 6) AS z
    FROM sums
    """,
)
def q_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test for ordered alternatives: within each brand
    (block), rank yearly revenues (1 = worst, ties broken by year), and
    L = Σ_blocks Σ_j j·R_j with j the chronological year index;
    E[L] = N·k(k+1)²/4, Var[L] = N·k²(k+1)(k²−1)/144, z = (L−E)/√Var.
    Rejects toward "revenue ranks INCREASE over the years in most
    brands" — the monotone-ordered refinement of q_friedman_test (which
    only detects some year effect) and the block-design sibling of
    q_cuzick_trend. Brands missing a year are excluded (complete-block
    requirement).

    Determinism: ranks are total-ordered windows over exact decimal
    revenue; the L sum rides DECIMAL(38,15); moments are closed-form
    integers.

    Scale: one star-join rollup to the brand×year grid; ranking windows
    partition by brand over ≤|years| rows. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    yb = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(F.sum(dec("l_extendedprice")).alias("rev"))
    ).localCheckpoint(eager=True)
    n_years = yb.select("yr").distinct().count()
    full_b = (
        yb.groupBy("brand")
        .agg(bcount("c"))
        .filter(F.col("c") == n_years)
        .select("brand")
    )
    # r7 (guide §2.5): the chronological year index j ran as an
    # unpartitioned dense_rank over the data-scaled brand×year grid
    # (every row through ONE task); j is a pure function of yr, so it now
    # comes from the ≤|years| calendar-bounded grid broadcast back —
    # identical j (complete-block brands see every year, so the joined
    # stream's distinct years equal yb's).
    yrmap = (
        yb.select("yr")
        .distinct()
        .select(
            "yr",
            F.row_number().over(Window.orderBy("yr")).cast("bigint").alias("j"),
        )
    )
    ranked = (
        yb.join(F.broadcast(full_b), "brand")
        .join(F.broadcast(yrmap), "yr")
        .select(
            "brand",
            F.row_number()
            .over(Window.partitionBy("brand").orderBy("rev", "yr"))
            .cast("bigint")
            .alias("r"),
            "j",
        )
    )
    sums = ranked.agg(
        F.sum((F.col("j") * F.col("r")).cast(D15)).cast("double").alias("l"),
    ).crossJoin(F.broadcast(full_b.agg(bcount("n"))))
    k = float(n_years)
    e_l = F.col("n").cast("double") * k * (k + 1) * (k + 1) / 4.0
    var_l = F.col("n").cast("double") * k * k * (k + 1) * (k * k - 1) / 144.0
    return sums.select(
        F.col("n").alias("n_brands"),
        F.lit(n_years).cast("bigint").alias("n_years"),
        F.round("l", 4).alias("page_l"),
        F.round(e_l, 4).alias("e_l"),
        F.round((F.col("l") - e_l) / F.sqrt(var_l), 6).alias("z"),
    )
