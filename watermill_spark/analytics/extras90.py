"""Analytics batch 98: Bandt-Pompe permutation entropy of the daily
revenue series, the Murphy (reliability/resolution/uncertainty)
decomposition of a Brier forecast score with a temporal train/test
split, and the temporal variogram (Matheron semivariance sweep) that
complements the correlation-based ACF view.

Permutation entropy reads complexity off ordinal patterns — rank
triples of consecutive values — so it is invariant to monotone
rescaling and needs no binning choices; the Brier decomposition is the
standard forecast-verification identity Brier = REL − RES + UNC; the
variogram's γ(h)/σ² ratio is the kriging view of temporal structure
(γ → sill = variance as lags decorrelate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_permutation_entropy",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT rev AS x0,
             lead(rev, 1) OVER (ORDER BY day) AS x1,
             lead(rev, 2) OVER (ORDER BY day) AS x2
      FROM d
    ),
    pat AS (
      SELECT (CASE WHEN x1 < x0 THEN 1 ELSE 0 END
              + CASE WHEN x2 < x0 THEN 1 ELSE 0 END) * 100
             + (CASE WHEN x0 <= x1 THEN 1 ELSE 0 END
                + CASE WHEN x2 < x1 THEN 1 ELSE 0 END) * 10
             + (CASE WHEN x0 <= x2 THEN 1 ELSE 0 END
                + CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS pattern
      FROM t WHERE x1 IS NOT NULL AND x2 IS NOT NULL
    ),
    c AS (
      SELECT CAST(pattern AS BIGINT) AS pattern,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pat GROUP BY 1
    ),
    sh AS (
      SELECT cnt, CAST(cnt AS DOUBLE) / SUM(cnt) OVER () AS p FROM c
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_triples,
             round(CAST(SUM(CAST(-p * ln(p) AS DECIMAL(28,15)))
                   AS DOUBLE) / ln(6.0), 6) AS perm_entropy_norm
      FROM sh
    )
    SELECT c.pattern, c.cnt,
           round(CAST(c.cnt AS DOUBLE) / tot.n_triples, 6) AS share,
           tot.n_triples, tot.perm_entropy_norm
    FROM c, tot
    """,
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation (Bandt-Pompe) entropy of daily order revenue:
    each consecutive triple is reduced to its ordinal pattern (rank
    vector, ties broken by temporal order — the standard convention),
    patterns are counted, and H = −Σ p ln p / ln 3! ∈ [0,1] summarizes
    how close the series is to i.i.d. noise (→1) vs deterministic
    monotone structure (→0). Invariant to any monotone transform of
    revenue, so it needs none of the binning choices the histogram
    entropies (q_entropy_daily_mix) do.

    Daily sums stay DECIMAL so the rank comparisons are exact on both
    engines; the ≤6 p·ln p terms ride DECIMAL(28,15) before the final
    normalized division.

    Scale: fact → |days| grid; two lead windows over one
    calendar-bounded sort; pattern cardinality ≤ 6. The 1-row
    entropy/total aggregate is cross-joined back to the ≤6 pattern rows
    (whitelisted BNLJ). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).alias("rev")
    )
    w = Window.orderBy("day")
    t = d.select(
        F.col("rev").alias("x0"),
        F.lead("rev", 1).over(w).alias("x1"),
        F.lead("rev", 2).over(w).alias("x2"),
    ).filter(F.col("x1").isNotNull() & F.col("x2").isNotNull())
    i = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    x0, x1, x2 = F.col("x0"), F.col("x1"), F.col("x2")
    pat = t.select(
        (
            (i(x1 < x0) + i(x2 < x0)) * 100
            + (i(x0 <= x1) + i(x2 < x1)) * 10
            + (i(x0 <= x2) + i(x1 <= x2))
        )
        .cast("bigint")
        .alias("pattern")
    )
    # checkpointed once (r6): the entropy total and the share pass both
    # re-derived the day rollup + lead windows (2 orders scans in the
    # plan); the ≤6-row pattern grid materializes once
    c = pat.groupBy("pattern").agg(bcount("cnt")).localCheckpoint(eager=True)
    wall = Window.partitionBy()
    p = F.col("cnt").cast("double") / F.sum("cnt").over(wall)
    tot = c.select(
        F.col("cnt"), (-p * F.log(p)).cast("decimal(28,15)").alias("term")
    ).agg(
        F.sum("cnt").cast("bigint").alias("n_triples"),
        F.round(F.sum("term").cast("double") / F.log(F.lit(6.0)), 6).alias(
            "perm_entropy_norm"
        ),
    )
    return c.crossJoin(tot).select(
        "pattern",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("n_triples"), 6).alias("share"),
        "n_triples",
        "perm_entropy_norm",
    )


@register(
    "q_brier_decomposition",
    oracle="""
    WITH train AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS n_tr,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_tr
      FROM lineitem WHERE l_shipdate < DATE '1995-01-01' GROUP BY 1
    ),
    test AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS n_k,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_k
      FROM lineitem WHERE l_shipdate >= DATE '1995-01-01' GROUP BY 1
    ),
    bins AS (
      SELECT t.q, t.n_k, t.r_k,
             CAST(tr.r_tr AS DOUBLE) / tr.n_tr AS p_hat,
             CAST(t.r_k AS DOUBLE) / t.n_k AS y_k
      FROM test t JOIN train tr ON t.q = tr.q
    ),
    tot AS (
      SELECT CAST(SUM(n_k) AS BIGINT) AS n_test,
             CAST(SUM(r_k) AS BIGINT) AS r_test
      FROM bins
    ),
    terms AS (
      SELECT tot.n_test,
             CAST(tot.r_test AS DOUBLE) / tot.n_test AS y_bar,
             CAST(SUM(CAST(n_k * (p_hat - y_k) * (p_hat - y_k)
                           AS DECIMAL(38,12))) AS DOUBLE) AS rel_num,
             CAST(SUM(CAST(n_k * (y_k - CAST(tot.r_test AS DOUBLE)
                                        / tot.n_test)
                           * (y_k - CAST(tot.r_test AS DOUBLE)
                                    / tot.n_test)
                           AS DECIMAL(38,12))) AS DOUBLE) AS res_num,
             CAST(SUM(CAST(n_k * (p_hat * p_hat - 2 * p_hat * y_k + y_k)
                           AS DECIMAL(38,12))) AS DOUBLE) AS brier_num
      FROM bins, tot GROUP BY tot.n_test, tot.r_test
    )
    SELECT n_test,
           round(y_bar, 6) AS base_rate,
           round(brier_num / n_test, 6) AS brier,
           round(rel_num / n_test, 6) AS reliability,
           round(res_num / n_test, 6) AS resolution,
           round(y_bar * (1 - y_bar), 6) AS uncertainty,
           round(brier_num / n_test
                 - (rel_num / n_test - res_num / n_test
                    + y_bar * (1 - y_bar)), 6) AS identity_gap
    FROM terms
    """,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of a Brier score with a temporal split: fit
    per-quantity return-rate forecasts p̂(q) on pre-1995 shipments, score
    them on post-1995 shipments, and decompose the Brier score into
    reliability (calibration error), resolution (how much the forecast
    bins separate outcomes), and uncertainty (base-rate variance) — the
    forecast-verification identity Brier = REL − RES + UNC, with the
    residual reported as ``identity_gap`` (exact 0 up to rounding, by
    construction). Complements q_calibration_ece (which bins by forecast
    value in-sample) with the proper out-of-time protocol.

    Within-bin means make the per-row Brier sum exact: for y∈{0,1},
    mean((p̂−y)²) = p̂² − 2p̂ȳ_k + ȳ_k bin-by-bin, so everything reduces
    to integer bin counts; the ≤50 per-bin double terms ride
    DECIMAL(38,12).

    Scale: two partial-agg scans of lineitem (train/test predicate
    pushed to parquet), a broadcast join of the ≤50-row forecast table,
    and a 1-row totals aggregate cross-joined back onto the bin grid
    (whitelisted BNLJ). §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    qcol = F.col("l_quantity").cast("bigint").alias("q")
    split = F.lit("1995-01-01").cast("date")
    train = (
        li.filter(F.col("l_shipdate") < split)
        .groupBy(qcol)
        .agg(bcount("n_tr"), F.sum(ret).cast("bigint").alias("r_tr"))
    )
    test = (
        li.filter(F.col("l_shipdate") >= split)
        .groupBy(qcol)
        .agg(bcount("n_k"), F.sum(ret).cast("bigint").alias("r_k"))
    )
    bins = test.join(F.broadcast(train), "q").select(
        "q",
        "n_k",
        "r_k",
        (F.col("r_tr").cast("double") / F.col("n_tr")).alias("p_hat"),
        (F.col("r_k").cast("double") / F.col("n_k")).alias("y_k"),
    )
    # checkpointed once (r6): the test totals and the decomposition
    # terms each re-derived the bin grid from the two date-pruned scans
    # (4 lineitem scans in the plan); the ≤|quantities| grid materializes
    # once, leaving the inherent disjoint train/test reads
    bins = bins.localCheckpoint(eager=True)
    tot = bins.agg(
        F.sum("n_k").cast("bigint").alias("n_test"),
        F.sum("r_k").cast("bigint").alias("r_test"),
    )
    ph, yk, nk = F.col("p_hat"), F.col("y_k"), F.col("n_k")
    ybar = F.col("r_test").cast("double") / F.col("n_test")
    d12 = "decimal(38,12)"
    terms = (
        bins.crossJoin(tot)
        .select(
            "n_test",
            ybar.alias("y_bar"),
            (nk * (ph - yk) * (ph - yk)).cast(d12).alias("rel_t"),
            (nk * (yk - ybar) * (yk - ybar)).cast(d12).alias("res_t"),
            (nk * (ph * ph - 2 * ph * yk + yk)).cast(d12).alias("brier_t"),
        )
        .groupBy("n_test", "y_bar")
        .agg(
            F.sum("rel_t").cast("double").alias("rel_num"),
            F.sum("res_t").cast("double").alias("res_num"),
            F.sum("brier_t").cast("double").alias("brier_num"),
        )
    )
    n = F.col("n_test").cast("double")
    yb = F.col("y_bar")
    return terms.select(
        "n_test",
        F.round(yb, 6).alias("base_rate"),
        F.round(F.col("brier_num") / n, 6).alias("brier"),
        F.round(F.col("rel_num") / n, 6).alias("reliability"),
        F.round(F.col("res_num") / n, 6).alias("resolution"),
        F.round(yb * (1 - yb), 6).alias("uncertainty"),
        F.round(
            F.col("brier_num") / n
            - (F.col("rel_num") / n - F.col("res_num") / n + yb * (1 - yb)),
            6,
        ).alias("identity_gap"),
    )


@register(
    "q_variogram_daily",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT rev,
             lead(rev, 1) OVER (ORDER BY day) AS r1,
             lead(rev, 2) OVER (ORDER BY day) AS r2,
             lead(rev, 3) OVER (ORDER BY day) AS r3,
             lead(rev, 4) OVER (ORDER BY day) AS r4,
             lead(rev, 5) OVER (ORDER BY day) AS r5,
             lead(rev, 6) OVER (ORDER BY day) AS r6,
             lead(rev, 7) OVER (ORDER BY day) AS r7,
             lead(rev, 14) OVER (ORDER BY day) AS r14,
             lead(rev, 28) OVER (ORDER BY day) AS r28
      FROM d
    ),
    u AS (
      SELECT 1 AS h, rev AS x, r1 AS y FROM l WHERE r1 IS NOT NULL
      UNION ALL SELECT 2, rev, r2 FROM l WHERE r2 IS NOT NULL
      UNION ALL SELECT 3, rev, r3 FROM l WHERE r3 IS NOT NULL
      UNION ALL SELECT 4, rev, r4 FROM l WHERE r4 IS NOT NULL
      UNION ALL SELECT 5, rev, r5 FROM l WHERE r5 IS NOT NULL
      UNION ALL SELECT 6, rev, r6 FROM l WHERE r6 IS NOT NULL
      UNION ALL SELECT 7, rev, r7 FROM l WHERE r7 IS NOT NULL
      UNION ALL SELECT 14, rev, r14 FROM l WHERE r14 IS NOT NULL
      UNION ALL SELECT 28, rev, r28 FROM l WHERE r28 IS NOT NULL
    ),
    g AS (
      SELECT CAST(h AS BIGINT) AS h, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST((x - y) * (x - y) AS DECIMAL(38,6)))
                  AS DOUBLE) / (2 * COUNT(*)) AS gamma
      FROM u GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(CAST(rev AS DECIMAL(38,6))) AS sx,
             SUM(CAST(rev * rev AS DECIMAL(38,6))) AS sx2
      FROM d
    ),
    v AS (
      SELECT n_days,
             (CAST(n_days AS DOUBLE) * CAST(sx2 AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n_days AS DOUBLE) * (n_days - 1)) AS variance
      FROM s
    )
    SELECT g.h, g.n_pairs,
           round(g.gamma / 1e9, 6) AS gamma_1e9,
           round(g.gamma / v.variance, 6) AS gamma_over_sill
    FROM g, v
    """,
)
def q_variogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (Matheron) variogram of daily order revenue: the
    semivariance γ(h) = Σ(x_t − x_{t+h})² / 2n over lags 1–7 days plus
    the 14- and 28-day checkpoints, each reported against the series
    variance — the kriging diagnostic where γ(h)/σ² climbing to 1 (the
    sill) marks the decorrelation horizon, and a dip at h=7 exposes the
    weekly cycle. The moment-free squared-difference estimator
    complements the covariance-based ACF sweep (q_acf_daily_revenue):
    identical information for stationary series, but γ stays meaningful
    under drift where the ACF's global mean is wrong.

    Squared differences and variance moments ride DECIMAL(38,6); only
    the final γ and γ/σ² ratios are double. γ is reported in 1e9 units
    so its ~5e10 magnitude sits well inside round-6 granularity (the
    decimal→double cast of huge sums differs across engines by 1 ulp).

    Scale: fact → |days| grid; one lead-window pass fans out 9 lag
    copies of grid rows, not fact rows; the 1-row variance aggregate is
    cross-joined to the 9 lag rows (whitelisted BNLJ). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the lag fan-out and the sill variance both
    # re-derived the rollup (2 orders scans in the plan); the
    # calendar-bounded day grid materializes once
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).cast("double").alias("rev")
    ).localCheckpoint(eager=True)
    lags = [1, 2, 3, 4, 5, 6, 7, 14, 28]
    w = Window.orderBy("day")
    led = d.select(
        "rev", *[F.lead("rev", h).over(w).alias(f"r{h}") for h in lags]
    )
    stack_args = ", ".join(f"{h}, r{h}" for h in lags)
    u = led.selectExpr(
        f"stack({len(lags)}, {stack_args}) AS (h, y)", "rev AS x"
    ).filter(F.col("y").isNotNull())
    diff = F.col("x") - F.col("y")
    g = u.groupBy(F.col("h").cast("bigint").alias("h")).agg(
        bcount("n_pairs"),
        (
            F.sum((diff * diff).cast("decimal(38,6)")).cast("double")
            / (2 * F.count(F.lit(1)))
        ).alias("gamma"),
    )
    s = d.agg(
        bcount("n_days"),
        F.sum(F.col("rev").cast("decimal(38,6)")).alias("sx"),
        F.sum((F.col("rev") * F.col("rev")).cast("decimal(38,6)")).alias("sx2"),
    )
    nd = F.col("n_days").cast("double")
    v = s.select(
        (
            (nd * F.col("sx2").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
            / (nd * (F.col("n_days") - 1))
        ).alias("variance")
    )
    return g.crossJoin(v).select(
        "h",
        "n_pairs",
        F.round(F.col("gamma") / F.lit(1e9), 6).alias("gamma_1e9"),
        F.round(F.col("gamma") / F.col("variance"), 6).alias("gamma_over_sill"),
    )
