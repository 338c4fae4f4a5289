"""Analytics batch 175: Sobel mediation test, Storey q-values, and
Egger's small-study-bias test.

Mediation asks HOW an effect travels (does click activity drive
purchases directly or through view engagement?) — the a·b indirect
path with the Sobel z completes the causal family's mechanism
question. Storey q-values upgrade the BH/BY procedures already here
(q_benjamini_yekutieli) with the π₀ estimate that recovers power when
most hypotheses are null. Egger's regression is the meta-analysis
bias check (q_meta_analysis pools per-nation effects; Egger asks
whether small/noisy nations systematically report bigger ones).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B statistics/causal families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import (
    C10,
    D15,
    OLS_SLOPE_SQL,
    bcount,
    dec,
    ols_moments,
    ols_slope,
    sql_ols_moments,
)
from .extras121 import phi_cdf_col, phi_cdf_sql
from .registry import load, register

# Per-nation weekend/weekday daily-order-value moments — shared by the
# q-value and Egger queries (the "many small studies" family).
_NATION_EFF_SQL = """
    daily AS (
      SELECT n.n_name AS nation, CAST(o.o_orderdate AS DATE) AS d,
             CASE WHEN isodow(CAST(o.o_orderdate AS DATE)) >= 6
                  THEN 1 ELSE 0 END AS we,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2, 3
    ),
    grp AS (
      SELECT nation, we,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS ss
      FROM daily GROUP BY 1, 2
    ),
    eff AS (
      SELECT a.nation,
             a.s / a.n - b.s / b.n AS diff,
             sqrt((a.ss - a.s * a.s / a.n) / (a.n - 1.0) / a.n
                  + (b.ss - b.s * b.s / b.n) / (b.n - 1.0) / b.n) AS se
      FROM grp a JOIN grp b
        ON b.nation = a.nation AND a.we = 1 AND b.we = 0
      WHERE a.n >= 2 AND b.n >= 2
    )
"""


def _nation_eff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderdate").cast("date").alias("d"),
            F.when(
                ((F.dayofweek(F.col("o_orderdate").cast("date")) + 5) % 7) + 1
                >= 6,
                1,
            )
            .otherwise(0)
            .alias("we"),
        )
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("y"))
    )
    grp = daily.groupBy("nation", "we").agg(
        bcount("n"),
        F.sum(F.col("y").cast(D15)).cast("double").alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("ss"),
    )
    # checkpointed once (r6): the a/b weekend-split self-join below and
    # every caller's re-reference of eff each re-derived the
    # orders⨝customer⨝nation fact rollup (4-6 fact scans per consumer
    # query); the ≤2·|nations|-row moment grid materializes once
    grp = grp.localCheckpoint(eager=True)
    a = grp.filter((F.col("we") == 1) & (F.col("n") >= 2)).select(
        "nation",
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("ss").alias("ss1"),
    )
    b = grp.filter((F.col("we") == 0) & (F.col("n") >= 2)).select(
        F.col("nation").alias("nb"),
        F.col("n").alias("n0"),
        F.col("s").alias("s0"),
        F.col("ss").alias("ss0"),
    )
    var = lambda s, ss, n: (  # noqa: E731
        (F.col(ss) - F.col(s) * F.col(s) / F.col(n)) / (F.col(n) - 1.0)
    )
    return a.join(F.broadcast(b), F.col("nb") == F.col("nation")).select(
        "nation",
        (F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")).alias("diff"),
        F.sqrt(
            var("s1", "ss1", "n1") / F.col("n1")
            + var("s0", "ss0", "n0") / F.col("n0")
        ).alias("se"),
    )


@register(
    "q_storey_qvalues",
    oracle=f"""
    WITH {_NATION_EFF_SQL},
    pv AS (
      SELECT nation,
             2.0 * (1.0 - {phi_cdf_sql("abs(diff / se)")}) AS p
      FROM eff
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS g,
             LEAST(1.0, CAST(SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END)
                             AS DOUBLE) / (0.5 * COUNT(*))) AS pi0
      FROM pv
    ),
    ranked AS (
      SELECT nation, p,
             CAST(ROW_NUMBER() OVER (ORDER BY p, nation) AS BIGINT)
               AS rk
      FROM pv
    ),
    raw AS (
      SELECT r.nation, r.p, r.rk,
             t.pi0 * t.g * r.p / r.rk AS q_raw
      FROM ranked r, tot t
    )
    SELECT nation, round(p, 6) AS p_value, rk AS bh_rank,
           round(MIN(q_raw) OVER (ORDER BY rk DESC
                 ROWS UNBOUNDED PRECEDING), 6) AS q_value,
           CAST(MIN(q_raw) OVER (ORDER BY rk DESC
                ROWS UNBOUNDED PRECEDING) < 0.1 AS BOOLEAN)
             AS significant_q10
    FROM raw ORDER BY rk
    """,
)
def q_storey_qvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey q-values for the per-nation weekend-effect family: Welch
    z-tests (A&S normal CDF, extras121) give each nation a p-value,
    π̂₀ = #{{p > ½}}/(G/2) estimates the null fraction (λ = 0.5), and
    q_i = min_{{j≥i}} π̂₀·G·p_j/j is the monotone step-down — the
    π₀-adaptive FDR that recovers the power q_benjamini_yekutieli's
    worst-case correction gives away when most nations truly have no
    weekend effect.

    Determinism: per-nation moments are decimal-exact; p-values come
    from the fixed A&S polynomial; the monotone minimum is a reverse
    prefix window with nation tiebreaks.

    Scale: one broadcast-star rollup to the (nation, day) grid; all
    test machinery runs on ≤|nations| rows. §2.B statistics family
    [NS].
    """
    eff = _nation_eff(spark, sf_dir)
    pv = eff.select(
        "nation",
        (2.0 * (1.0 - phi_cdf_col(F.abs(F.col("diff") / F.col("se"))))).alias(
            "p"
        ),
    )
    tot = pv.agg(
        bcount("g"),
        F.least(
            F.lit(1.0),
            F.sum(F.when(F.col("p") > 0.5, 1).otherwise(0)).cast("double")
            / (0.5 * F.count(F.lit(1))),
        ).alias("pi0"),
    )
    ranked = pv.select(
        "nation",
        "p",
        F.row_number()
        .over(Window.orderBy("p", "nation"))
        .cast("bigint")
        .alias("rk"),
    )
    raw = ranked.crossJoin(F.broadcast(tot)).select(
        "nation",
        "p",
        "rk",
        (F.col("pi0") * F.col("g") * F.col("p") / F.col("rk")).alias("q_raw"),
    )
    wrev = Window.orderBy(F.col("rk").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    qv = F.min("q_raw").over(wrev)
    return raw.select(
        "nation",
        F.round("p", 6).alias("p_value"),
        F.col("rk").alias("bh_rank"),
        F.round(qv, 6).alias("q_value"),
        (qv < 0.1).alias("significant_q10"),
    ).orderBy("bh_rank")


@register(
    "q_eggers_test",
    oracle=f"""
    WITH {_NATION_EFF_SQL},
    pts AS (
      SELECT diff / se AS y, 1.0 / se AS x FROM eff
    ),
    mom AS (
      SELECT {sql_ols_moments(sq=D15)},
             CAST(SUM(CAST(y * y AS DECIMAL(38,15))) AS DOUBLE) AS syy
      FROM pts
    ),
    fit AS (
      SELECT n,
             {OLS_SLOPE_SQL} AS b,
             (sy - {OLS_SLOPE_SQL} * sx) / n
               AS a,
             ((syy - sy * sy / n)
              - pow(n * sxy - sx * sy, 2) / (n * (n * sxx - sx * sx)))
             / (n - 2.0) AS s2,
             sxx, sx
      FROM mom
    )
    SELECT n AS n_nations,
           round(a, 6) AS egger_intercept,
           round(b, 6) AS slope_effect,
           round(a / sqrt(s2 * sxx / (n * sxx - sx * sx)), 6)
             AS intercept_t,
           CAST(abs(a / sqrt(s2 * sxx / (n * sxx - sx * sx))) > 2.069
                AS BOOLEAN) AS small_study_bias
    FROM fit
    """,
)
def q_eggers_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Egger's regression test across the per-nation weekend-effect
    "studies": regress each nation's standardized effect (diff/se) on
    its precision (1/se) — under no small-study bias the intercept is
    0 (precision fully explains the standardized effect); a
    significant intercept (|t| > 2.069, t₂₃ 5%) means noisy nations
    systematically report larger effects, the funnel-plot asymmetry
    check run next to q_meta_analysis before trusting its pooled
    estimate.

    Determinism: effects/SEs are decimal-exact group moments; the OLS
    fit, residual variance, and intercept SE are fixed double
    expressions.

    Scale: the study table is ≤|nations| rows from one broadcast-star
    rollup; the test itself reads 25 rows. §2.B statistics family
    [NS].
    """
    eff = _nation_eff(spark, sf_dir)
    pts = eff.select(
        (F.col("diff") / F.col("se")).alias("y"),
        (1.0 / F.col("se")).alias("x"),
    )
    mom = pts.agg(
        *ols_moments(sq=D15),
        F.sum((F.col("y") * F.col("y")).cast(D15)).cast("double").alias("syy"),
    )
    b = ols_slope()
    a = (F.col("sy") - b * F.col("sx")) / F.col("n")
    s2 = (
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        - F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
        / (F.col("n") * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    ) / (F.col("n") - 2.0)
    se_a = F.sqrt(
        s2 * F.col("sxx") / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return mom.select(
        F.col("n").alias("n_nations"),
        F.round(a, 6).alias("egger_intercept"),
        F.round(b, 6).alias("slope_effect"),
        F.round(a / se_a, 6).alias("intercept_t"),
        (F.abs(a / se_a) > 2.069).alias("small_study_bias"),
    )


@register(
    "q_mediation_sobel",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click'
                      THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS mv,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    ma AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(mv AS DECIMAL(38,15))) AS DOUBLE) AS sm,
             CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * mv AS DECIMAL(38,10))) AS DOUBLE) AS sxm,
             CAST(SUM(CAST(mv * mv AS DECIMAL(38,10))) AS DOUBLE) AS smm,
             CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(mv * y AS DECIMAL(38,10))) AS DOUBLE) AS smy,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
      FROM daily
    ),
    patha AS (
      SELECT n, sxx - sx * sx / n AS cxx,
             (n * sxm - sx * sm) / (n * sxx - sx * sx) AS a_coef,
             ((smm - sm * sm / n)
              - pow(n * sxm - sx * sm, 2) / (n * (n * sxx - sx * sx)))
             / (n - 2.0) AS s2a
      FROM ma
    ),
    detg AS (
      SELECT n,
             (n * (sxx * smm - sxm * sxm)
              - sx * (sx * smm - sxm * sm)
              + sm * (sx * sxm - sxx * sm)) AS dg,
             sxx, sx, sm, sxm, smm, sxy, smy, sy, syy
      FROM ma
    ),
    pathb AS (
      SELECT n, dg,
             (n * (sxx * smy - sxm * sxy)
              - sx * (sx * smy - sxm * sy)
              + sm * (sx * sxy - sxx * sy)) / dg AS b_coef,
             (n * (smm * sxy - sxm * smy)
              - sm * (sm * sxy - sxm * sy)
              + sx * (sm * smy - smm * sy)) / dg AS c_direct,
             (sy * (sxx * smm - sxm * sxm)
              - sx * (sxy * smm - sxm * smy)
              + sm * (sxy * sxm - sxx * smy)) / dg AS icept,
             (n * sxx - sx * sx) / dg AS inv33,
             sxx, sx, sm, sxm, smm, sxy, smy, sy, syy
      FROM detg
    ),
    sseb AS (
      SELECT p.n, p.b_coef, p.c_direct, p.inv33,
             CAST(SUM(CAST(pow(d.y - p.icept - p.c_direct * d.x
                               - p.b_coef * d.mv, 2)
                           AS DECIMAL(38,10))) AS DOUBLE)
             / (p.n - 3.0) AS s2b
      FROM daily d, pathb p
      GROUP BY 1, 2, 3, 4
    )
    SELECT a.n AS n_days,
           round(a.a_coef, 6) AS a_path,
           round(b.b_coef, 6) AS b_path,
           round(b.c_direct, 6) AS direct_effect,
           round(a.a_coef * b.b_coef, 6) AS indirect_effect,
           round(a.a_coef * b.b_coef
                 / sqrt(a.a_coef * a.a_coef * (b.s2b * b.inv33)
                        + b.b_coef * b.b_coef * (a.s2a / a.cxx)), 6)
             AS sobel_z
    FROM patha a, sseb b
    """,
)
def q_mediation_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron-Kenny mediation with the Sobel test: does daily click
    value (X) move purchase value (Y) through view engagement (M)?
    Path a (M ~ X) and path b (Y ~ X + M, Cramer-solved) give the
    indirect effect a·b and Sobel z = ab/√(a²·se_b² + b²·se_a²),
    reported next to the direct effect c′ — the mechanism
    decomposition the causal family's total-effect estimators
    (q_causal_impact_lite, q_difference_in_differences) can't see.

    Determinism: all moments are decimal-exact; both fits are
    closed-form (1-var OLS and 3×3 Cramer); SEs use the exact cofactor
    [G⁻¹]₃₃ and residual variances from a broadcast fit pass.

    Scale: one fact rollup to the day grid, two 1-row aggregates, one
    1-row fit broadcast for the SSE (whitelisted). §2.B causal family
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", dec("value")).otherwise(
                F.lit(0).cast("decimal(18,6)")
            )
        )
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("mv"),
        F.sum(
            F.when(F.col("event_type") == "purchase", dec("value")).otherwise(
                F.lit(0).cast("decimal(18,6)")
            )
        )
        .cast("double")
        .alias("y"),
    ).localCheckpoint(eager=True)
    ma = daily.agg(
        *ols_moments(),
        F.sum(F.col("mv").cast(D15)).cast("double").alias("sm"),
        F.sum((F.col("x") * F.col("mv")).cast(C10)).cast("double").alias("sxm"),
        F.sum((F.col("mv") * F.col("mv")).cast(C10)).cast("double").alias("smm"),
        F.sum((F.col("mv") * F.col("y")).cast(C10)).cast("double").alias("smy"),
    )
    n, sx, sm = F.col("n"), F.col("sx"), F.col("sm")
    sxx, sxm, smm = F.col("sxx"), F.col("sxm"), F.col("smm")
    sxy, smy, sy = F.col("sxy"), F.col("smy"), F.col("sy")
    patha = ma.select(
        "n",
        (sxx - sx * sx / n).alias("cxx"),
        ((n * sxm - sx * sm) / (n * sxx - sx * sx)).alias("a_coef"),
        (
            (
                (smm - sm * sm / n)
                - F.pow(n * sxm - sx * sm, 2) / (n * (n * sxx - sx * sx))
            )
            / (n - 2.0)
        ).alias("s2a"),
    )
    dg = (
        n * (sxx * smm - sxm * sxm)
        - sx * (sx * smm - sxm * sm)
        + sm * (sx * sxm - sxx * sm)
    )
    pathb = ma.select(
        "n",
        (
            (
                n * (sxx * smy - sxm * sxy)
                - sx * (sx * smy - sxm * sy)
                + sm * (sx * sxy - sxx * sy)
            )
            / dg
        ).alias("b_coef"),
        (
            (
                n * (smm * sxy - sxm * smy)
                - sm * (sm * sxy - sxm * sy)
                + sx * (sm * smy - smm * sy)
            )
            / dg
        ).alias("c_direct"),
        (
            (
                sy * (sxx * smm - sxm * sxm)
                - sx * (sxy * smm - sxm * smy)
                + sm * (sxy * sxm - sxx * smy)
            )
            / dg
        ).alias("icept"),
        ((n * sxx - sx * sx) / dg).alias("inv33"),
    )
    resid = (
        F.col("y")
        - F.col("icept")
        - F.col("c_direct") * F.col("x")
        - F.col("b_coef") * F.col("mv")
    )
    sseb = (
        daily.crossJoin(F.broadcast(pathb))
        .groupBy("n", "b_coef", "c_direct", "inv33")
        .agg(
            (
                F.sum(F.pow(resid, 2).cast(C10)).cast("double")
                / (F.col("n") - 3.0)
            ).alias("s2b")
        )
        .drop("n")
    )
    ab = F.col("a_coef") * F.col("b_coef")
    sobel = ab / F.sqrt(
        F.col("a_coef") * F.col("a_coef") * (F.col("s2b") * F.col("inv33"))
        + F.col("b_coef") * F.col("b_coef") * (F.col("s2a") / F.col("cxx"))
    )
    return patha.crossJoin(F.broadcast(sseb)).select(
        patha.n.alias("n_days"),
        F.round("a_coef", 6).alias("a_path"),
        F.round("b_coef", 6).alias("b_path"),
        F.round("c_direct", 6).alias("direct_effect"),
        F.round(ab, 6).alias("indirect_effect"),
        F.round(sobel, 6).alias("sobel_z"),
    )
