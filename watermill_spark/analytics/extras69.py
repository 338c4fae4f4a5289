"""Analytics batch 77: CUPED variance reduction for experiments, SAX
symbolization of the daily revenue series, and the standardized
effect-size family (Cohen's d / Hedges' g / Cliff's delta) for the A/B
split.

CUPED is the modern experimentation workhorse (pre-period covariate
adjustment shrinks metric variance, often 30-50%, letting the same
experiment decide in half the time); SAX turns a series into a symbol
string for motif/anomaly mining; effect sizes report *how big*, where
tests (q_welch_ttest, q_mannwhitney_u) only report *whether*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval
from .registry import load, register


@register(
    "q_cuped_adjustment",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us
      FROM events
    ),
    users AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE epoch_us(e.ts) < b.mid_us)
                  AS BIGINT) AS x,
             CAST(COUNT(*) FILTER (WHERE epoch_us(e.ts) >= b.mid_us)
                  AS BIGINT) AS y
      FROM events e, bounds b GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM users
    )
    SELECT n AS n_users,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n), 6)
             AS theta,
           round((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                 / (n - 1), 6) AS var_y,
           round(((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                  - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                 / (n - 1), 6) AS var_y_cuped,
           round(1.0 - ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                  - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                 / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n), 6)
             AS variance_reduction
    FROM mom
    """,
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data): split the
    log at its midpoint, use each user's pre-period event count X as the
    covariate for their experiment-period count Y, θ = cov(X,Y)/var(X),
    and report Var(Y) vs Var(Y−θX) — the variance-reduction factor that
    shrinks q_power_mde's required sample size by the same fraction
    (identical treatment effect, tighter metric).

    Determinism: all moments are exact integer sums over per-user counts;
    the midpoint is exact integer-microsecond arithmetic.

    Scale: one user rollup with the 1-row bounds broadcast; CUPED algebra
    is a 1-row expression. §2.B experimentation surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.floor(
            (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2
        )
        .cast("bigint")
        .alias("mid_us")
    )
    users = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.count_if(F.unix_micros("ts") < F.col("mid_us"))
            .cast("bigint")
            .alias("x"),
            F.count_if(F.unix_micros("ts") >= F.col("mid_us"))
            .cast("bigint")
            .alias("y"),
        )
    )
    mom = users.agg(
        bcount("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    resid = cyy - cxy * cxy / cxx
    return mom.select(
        F.col("n").alias("n_users"),
        F.round(cxy / cxx, 6).alias("theta"),
        F.round(cyy / (F.col("n") - 1), 6).alias("var_y"),
        F.round(resid / (F.col("n") - 1), 6).alias("var_y_cuped"),
        F.round(1.0 - resid / cyy, 6).alias("variance_reduction"),
    )


_SAX_SEG = 8  # days per PAA segment
# Standard normal breakpoints for a 4-symbol alphabet, shared literals.
_SAX_BP = (-0.6744897501960817, 0.0, 0.6744897501960817)


@register(
    "q_sax_symbolization",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders WHERE year(o_orderdate) = 1995
      GROUP BY 1
    ),
    idx AS (
      SELECT rev, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM daily
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mu,
             sqrt(CAST(SUM(CAST(rev * rev AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(*)
                  - (CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*))) AS sd
      FROM idx
    ),
    paa AS (
      SELECT (t - 1) // {_SAX_SEG} AS seg,
             CAST(COUNT(*) AS BIGINT) AS nseg,
             (CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
              - (SELECT mu FROM mom)) / (SELECT sd FROM mom) AS z
      FROM idx GROUP BY 1 HAVING COUNT(*) = {_SAX_SEG}
    ),
    sym AS (
      SELECT seg, z,
             CASE WHEN z < CAST({_SAX_BP[0]!r} AS DOUBLE) THEN 'a'
                  WHEN z < CAST({_SAX_BP[1]!r} AS DOUBLE) THEN 'b'
                  WHEN z < CAST({_SAX_BP[2]!r} AS DOUBLE) THEN 'c'
                  ELSE 'd' END AS s
      FROM paa
    )
    SELECT CAST(seg AS BIGINT) AS segment, round(z, 6) AS paa_z, s AS symbol
    FROM sym ORDER BY seg
    """,
)
def q_sax_symbolization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (symbolic aggregate approximation) of 1995 daily revenue:
    z-normalize, piecewise-aggregate into 8-day segments, and map each
    segment mean to a 4-letter alphabet at the standard normal
    breakpoints ±0.674/0 — the symbolization that turns a numeric series
    into a string so motif search, grammar induction, and anomaly
    discovery become substring problems (the discrete complement to
    q_dft_periodogram / q_stl_lite).

    Determinism: PAA means and the global μ/σ come from exact decimal
    sums; breakpoints are shared double literals; symbol choice is exact
    comparison.

    Scale: calendar-bounded; one rollup + one segment groupBy. §2.B
    [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("rev"))
    )
    from pyspark.sql import Window

    idx = daily.select(
        "rev", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t")
    )
    mom = idx.agg(
        (F.sum(dec("rev")).cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.sum((F.col("rev") * F.col("rev")).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
            - (F.sum(dec("rev")).cast("double") / F.count(F.lit(1)))
            * (F.sum(dec("rev")).cast("double") / F.count(F.lit(1)))
        ).alias("sd"),
    )
    paa = (
        idx.groupBy(F.floor((F.col("t") - 1) / _SAX_SEG).alias("seg"))
        .agg(
            bcount("nseg"),
            (F.sum(dec("rev")).cast("double") / F.count(F.lit(1))).alias("m"),
        )
        .filter(F.col("nseg") == _SAX_SEG)
        .crossJoin(F.broadcast(mom))
        .select(
            "seg", ((F.col("m") - F.col("mu")) / F.col("sd")).alias("z")
        )
    )
    sym = paa.select(
        F.col("seg").cast("bigint").alias("segment"),
        F.round("z", 6).alias("paa_z"),
        F.when(F.col("z") < F.lit(_SAX_BP[0]), "a")
        .when(F.col("z") < F.lit(_SAX_BP[1]), "b")
        .when(F.col("z") < F.lit(_SAX_BP[2]), "c")
        .otherwise("d")
        .alias("symbol"),
    )
    return sym.orderBy("segment")


@register(
    "q_effect_sizes",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS k,
             CASE WHEN {sql_hexval("substr(md5('es1:' || CAST(user_id AS VARCHAR)), 1, 1)")}
               % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN arm = 'A' THEN k END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN arm = 'B' THEN k END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN arm = 'A' THEN k * k END) AS BIGINT) AS q1,
             CAST(SUM(CASE WHEN arm = 'B' THEN k * k END) AS BIGINT) AS q2
      FROM users
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN a.k > b.k THEN 1 ELSE 0 END) AS BIGINT)
               AS gt,
             CAST(SUM(CASE WHEN a.k < b.k THEN 1 ELSE 0 END) AS BIGINT)
               AS lt
      FROM (SELECT k FROM users WHERE arm = 'A') a,
           (SELECT k FROM users WHERE arm = 'B') b
    ),
    d AS (
      SELECT n1, n2,
             (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             / sqrt(((q1 - CAST(s1 AS DOUBLE) * s1 / n1)
                     + (q2 - CAST(s2 AS DOUBLE) * s2 / n2))
                    / (n1 + n2 - 2)) AS cohen_d,
             gt, lt
      FROM mom, pairs
    )
    SELECT n1 AS n_a, n2 AS n_b,
           round(cohen_d, 6) AS cohen_d,
           round(cohen_d * (1.0 - 3.0 / (4 * (n1 + n2) - 9)), 6)
             AS hedges_g,
           round((CAST(gt AS DOUBLE) - lt)
                 / (CAST(n1 AS DOUBLE) * n2), 6) AS cliffs_delta
    FROM d
    """,
)
def q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for the A/B split on per-user purchase
    counts: Cohen's d (pooled-SD mean difference), Hedges' g (its
    small-sample bias correction), and Cliff's delta (P(A>B)−P(A<B), the
    rank-based, distribution-free size) — the magnitude report that turns
    q_welch_ttest / q_mannwhitney_u p-values into decisions (a tiny d at
    huge n is significant and worthless).

    Determinism: all moments and pairwise dominance counts are exact
    integers; the three sizes are fixed-shape double algebra.

    Scale: the moment path is one user rollup; Cliff's pairwise count
    runs on the per-user *count histogram* in production (sum over k1>k2
    of c1·c2) — written here as the literal pair join for oracle parity,
    with the histogram contraction documented as the 100 TB shape. §2.B
    experimentation surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("es1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    # arm projected after the aggregate — pure function of the group key
    # (r6: string agg buffers force SortAggregate over all of events)
    users = ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("k"),
    ).withColumn("arm", arm)
    # checkpointed once (r6): the moment aggregate and both dominance
    # sides each re-derived the per-user rollup (3 events scans in the
    # plan); the grid materializes once (state linear in the user domain)
    users = users.localCheckpoint(eager=True)
    mom = users.agg(
        F.count_if(F.col("arm") == "A").cast("bigint").alias("n1"),
        F.count_if(F.col("arm") == "B").cast("bigint").alias("n2"),
        F.sum(F.when(F.col("arm") == "A", F.col("k"))).cast("bigint").alias("s1"),
        F.sum(F.when(F.col("arm") == "B", F.col("k"))).cast("bigint").alias("s2"),
        F.sum(F.when(F.col("arm") == "A", F.col("k") * F.col("k")))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("arm") == "B", F.col("k") * F.col("k")))
        .cast("bigint")
        .alias("q2"),
    )
    ka = users.filter(F.col("arm") == "A").select(F.col("k").alias("ka"))
    kb = users.filter(F.col("arm") == "B").select(F.col("k").alias("kb"))
    pairs = ka.crossJoin(F.broadcast(kb)).agg(
        F.sum(F.when(F.col("ka") > F.col("kb"), 1).otherwise(0))
        .cast("bigint")
        .alias("gt"),
        F.sum(F.when(F.col("ka") < F.col("kb"), 1).otherwise(0))
        .cast("bigint")
        .alias("lt"),
    )
    s = mom.crossJoin(F.broadcast(pairs))
    mean_diff = F.col("s1").cast("double") / F.col("n1") - F.col("s2").cast(
        "double"
    ) / F.col("n2")
    pooled = F.sqrt(
        (
            (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
            + (F.col("q2") - F.col("s2").cast("double") * F.col("s2") / F.col("n2"))
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = mean_diff / pooled
    return s.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.round(d, 6).alias("cohen_d"),
        F.round(
            d * (1.0 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6
        ).alias("hedges_g"),
        F.round(
            (F.col("gt").cast("double") - F.col("lt"))
            / (F.col("n1").cast("double") * F.col("n2")),
            6,
        ).alias("cliffs_delta"),
    )
