"""Analytics batch 59: long-memory, changepoint, and sequential-decision
statistics — the Hurst exponent via rescaled-range (R/S) analysis of daily
revenue, the Pettitt changepoint test on monthly revenue, and Wald's SPRT
(sequential probability ratio test) over the ordered event stream.

Determinism patterns introduced here: cumulative sums run over DECIMAL (or
integers) so running-frame evaluation order can't matter; the SPRT
log-likelihood increments and the R/S log-log abscissas are *precomputed
double literals* shared verbatim by both engines, so no transcendental
function is evaluated at query time where it could differ by an ulp and
flip a discrete crossing decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register

_SIZES = (8, 16, 32, 64)
_LN = {8: 2.0794415416798357, 16: 2.772588722239781, 32: 3.4657359027997265, 64: 4.1588830833596715}


@register(
    "q_hurst_rs",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders WHERE year(o_orderdate) = 1995
      GROUP BY 1
    ),
    idx AS (
      SELECT rev, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM daily
    ),
    sized AS (
      SELECT z.z, (i.t - 1) // z.z AS blk, i.t, i.rev,
             CAST(ROW_NUMBER() OVER (PARTITION BY z.z, (i.t - 1) // z.z
                                     ORDER BY i.t) AS BIGINT) AS j,
             SUM(i.rev) OVER (PARTITION BY z.z, (i.t - 1) // z.z
                              ORDER BY i.t ROWS UNBOUNDED PRECEDING) AS cum
      FROM idx i, (SELECT UNNEST(ARRAY{list(_SIZES)}) AS z) z
    ),
    blocks AS (
      SELECT z, blk,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS mu,
             CAST(SUM(CAST(CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE)
                      AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS m2
      FROM sized GROUP BY z, blk
    ),
    devs AS (
      SELECT s.z, s.blk,
             MAX(CAST(s.cum AS DOUBLE) - s.j * b.mu) AS dmax,
             MIN(CAST(s.cum AS DOUBLE) - s.j * b.mu) AS dmin
      FROM sized s JOIN blocks b ON b.z = s.z AND b.blk = s.blk
      WHERE b.nb = s.z
      GROUP BY s.z, s.blk
    ),
    rs AS (
      SELECT d.z, d.blk,
             CAST((GREATEST(d.dmax, 0.0) - LEAST(d.dmin, 0.0))
                  / sqrt(b.m2 - b.mu * b.mu) AS DECIMAL(18,6)) AS rs_v
      FROM devs d JOIN blocks b ON b.z = d.z AND b.blk = d.blk
    ),
    avg_rs AS (
      SELECT CAST(z AS BIGINT) AS block_size,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(rs_v) AS DOUBLE) / COUNT(*) AS mean_rs
      FROM rs GROUP BY z
    ),
    pivoted AS (
      SELECT MAX(CASE WHEN block_size = 8 THEN mean_rs END) AS y8,
             MAX(CASE WHEN block_size = 16 THEN mean_rs END) AS y16,
             MAX(CASE WHEN block_size = 32 THEN mean_rs END) AS y32,
             MAX(CASE WHEN block_size = 64 THEN mean_rs END) AS y64
      FROM avg_rs
    ),
    fit AS (
      SELECT (4.0 * ({_LN[8]} * ln(y8) + {_LN[16]} * ln(y16)
                     + {_LN[32]} * ln(y32) + {_LN[64]} * ln(y64))
              - ({_LN[8]} + {_LN[16]} + {_LN[32]} + {_LN[64]})
                * (ln(y8) + ln(y16) + ln(y32) + ln(y64)))
             / (4.0 * ({_LN[8]} * {_LN[8]} + {_LN[16]} * {_LN[16]}
                       + {_LN[32]} * {_LN[32]} + {_LN[64]} * {_LN[64]})
                - ({_LN[8]} + {_LN[16]} + {_LN[32]} + {_LN[64]})
                  * ({_LN[8]} + {_LN[16]} + {_LN[32]} + {_LN[64]})) AS h
      FROM pivoted
    )
    SELECT a.block_size, a.n_blocks, round(a.mean_rs, 6) AS mean_rs,
           round(f.h, 6) AS hurst
    FROM avg_rs a, fit f
    """,
)
def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of 1995 daily revenue by rescaled-range analysis:
    split the series into blocks of 8/16/32/64 days, per block compute
    R/S = (range of cumulative mean-deviations, floored at the 0 baseline)
    over the block's population σ, average per size, then H = the log-log
    OLS slope of E[R/S] against block size — H≈0.5 is a random walk, >0.5
    long-memory persistence (the long-horizon complement to
    q_acf_daily_revenue / q_hill_tail_index).

    Determinism: cumulative sums stay in exact DECIMAL until a single
    double conversion per row; per-block R/S values are decimal-cast
    before cross-block averaging; ln(block_size) abscissas are shared
    double literals, and the 4-point regression sums are written as
    explicit left-associated chains, never an n-ary SUM over doubles.

    Scale: the size dimension is a 4-row broadcast; windows partition by
    (size, block) — thousands of small independent partitions, and the
    whole series is calendar-bounded (one year of days). §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev"))
    )
    idx = daily.select(
        "rev", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t")
    )
    sizes = spark.range(len(_SIZES)).select(
        F.element_at(
            F.array(*[F.lit(z) for z in _SIZES]), (F.col("id") + 1).cast("int")
        ).cast("bigint").alias("z")
    )
    sized = idx.crossJoin(F.broadcast(sizes)).select(
        "z",
        F.floor((F.col("t") - 1) / F.col("z")).alias("blk"),
        "t",
        "rev",
    )
    wb = Window.partitionBy("z", "blk")
    sized = sized.select(
        "z",
        "blk",
        "rev",
        F.row_number().over(wb.orderBy("t")).cast("bigint").alias("j"),
        F.sum("rev").over(wb.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    blocks = sized.groupBy("z", "blk").agg(
        bcount("nb"),
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("mu"),
        (
            F.sum(
                (F.col("rev").cast("double") * F.col("rev").cast("double")).cast(
                    "decimal(28,6)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    devs = (
        sized.join(blocks, ["z", "blk"])
        .filter(F.col("nb") == F.col("z"))
        .groupBy("z", "blk", "mu", "m2")
        .agg(
            F.max(F.col("cum").cast("double") - F.col("j") * F.col("mu")).alias("dmax"),
            F.min(F.col("cum").cast("double") - F.col("j") * F.col("mu")).alias("dmin"),
        )
    )
    rs = devs.select(
        "z",
        (
            (F.greatest(F.col("dmax"), F.lit(0.0)) - F.least(F.col("dmin"), F.lit(0.0)))
            / F.sqrt(F.col("m2") - F.col("mu") * F.col("mu"))
        )
        .cast("decimal(18,6)")
        .alias("rs_v"),
    )
    avg_rs = rs.groupBy("z").agg(
        bcount("n_blocks"),
        (F.sum("rs_v").cast("double") / F.count(F.lit(1))).alias("mean_rs"),
    )
    piv = avg_rs.agg(
        *[
            F.max(F.when(F.col("z") == z, F.col("mean_rs"))).alias(f"y{z}")
            for z in _SIZES
        ]
    )
    lx = [F.lit(_LN[z]) for z in _SIZES]
    ly = [F.log(F.col(f"y{z}")) for z in _SIZES]
    sx = lx[0] + lx[1] + lx[2] + lx[3]
    sy = ly[0] + ly[1] + ly[2] + ly[3]
    sxy = lx[0] * ly[0] + lx[1] * ly[1] + lx[2] * ly[2] + lx[3] * ly[3]
    sxx = lx[0] * lx[0] + lx[1] * lx[1] + lx[2] * lx[2] + lx[3] * lx[3]
    fit = piv.select(((F.lit(4.0) * sxy - sx * sy) / (F.lit(4.0) * sxx - sx * sx)).alias("h"))
    return avg_rs.crossJoin(F.broadcast(fit)).select(
        F.col("z").alias("block_size"),
        "n_blocks",
        F.round("mean_rs", 6).alias("mean_rs"),
        F.round("h", 6).alias("hurst"),
    )


@register(
    "q_pettitt_test",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT m,
             CAST(ROW_NUMBER() OVER (ORDER BY m) AS BIGINT) AS t,
             CAST(RANK() OVER (ORDER BY rev) AS BIGINT) AS r,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM monthly
    ),
    u AS (
      SELECT m, t, n,
             2 * SUM(r) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
             - t * (n + 1) AS u_t
      FROM ranked
    ),
    k AS (
      SELECT m, t, n, u_t,
             ROW_NUMBER() OVER (ORDER BY abs(u_t) DESC, t) AS pick
      FROM u
    )
    SELECT n AS n_months, m AS changepoint_month,
           CAST(u_t AS BIGINT) AS u_at_cp,
           CAST(abs(u_t) AS BIGINT) AS k_stat,
           round(2.0 * exp(-6.0 * CAST(abs(u_t) AS DOUBLE)
                           * CAST(abs(u_t) AS DOUBLE)
                           / (CAST(n AS DOUBLE) * n * n
                              + CAST(n AS DOUBLE) * n)), 6) AS p_approx
    FROM k WHERE pick = 1
    """,
)
def q_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt non-parametric changepoint test on monthly revenue:
    Uₜ = 2·Σ_{i≤t} rᵢ − t(n+1) (rᵢ the global ranks), the changepoint is
    the month maximizing |Uₜ| with K = max|Uₜ| and the standard
    p ≈ 2·exp(−6K²/(n³+n²)) — the rank-based, distribution-free cousin of
    q_cusum_changepoint (which needs a variance estimate; Pettitt needs
    only ranks).

    Determinism: ranks order exact DECIMAL revenues; Uₜ is a running sum
    of *integers*; the argmax tiebreaks on earliest month; only the final
    p-value touches exp (rounded at 1e-6, far above ulp noise).

    Scale: monthly rollup map-side combines to a calendar-bounded series;
    ranking + the running sum are single-partition windows over ~84 rows.
    §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev"))
    ranked = monthly.select(
        "m",
        F.row_number().over(Window.orderBy("m")).cast("bigint").alias("t"),
        F.rank().over(Window.orderBy("rev")).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    u = ranked.select(
        "m",
        "t",
        "n",
        (
            2
            * F.sum("r").over(
                Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("t") * (F.col("n") + 1)
        ).alias("u_t"),
    )
    k = u.select(
        "m",
        "n",
        "u_t",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("u_t")).desc(), F.col("t")))
        .alias("pick"),
    ).filter(F.col("pick") == 1)
    ka = F.abs(F.col("u_t")).cast("double")
    nd = F.col("n").cast("double")
    return k.select(
        F.col("n").alias("n_months"),
        F.col("m").alias("changepoint_month"),
        F.col("u_t").cast("bigint").alias("u_at_cp"),
        F.abs(F.col("u_t")).cast("bigint").alias("k_stat"),
        F.round(2.0 * F.exp(-6.0 * ka * ka / (nd * nd * nd + nd * nd)), 6).alias(
            "p_approx"
        ),
    )


# SPRT constants: H0 p=0.10 vs H1 p=0.12, alpha=beta=0.05.
# Log-likelihood increments precomputed as shared double literals so no
# engine evaluates ln at query time (an ulp there could flip the discrete
# crossing row).
_L1 = 0.1823215567939546  # ln(0.12/0.10), added when the event is a purchase
_L0 = -0.02247285585205863  # ln(0.88/0.90), added otherwise
_A = 2.9444389791664403  # ln((1-beta)/alpha): accept H1 at/above
_B = -2.9444389791664403  # ln(beta/(1-alpha)): accept H0 at/below


@register(
    "q_sprt_ab_sequential",
    oracle=f"""
    WITH ordered AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) AS t
      FROM events
    ),
    llr AS (
      SELECT t,
             CAST(SUM(x) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS c_t
      FROM ordered
    ),
    scored AS (
      SELECT t, c_t,
             c_t * CAST({_L1} AS DOUBLE)
             + (t - c_t) * CAST({_L0} AS DOUBLE) AS llr_t
      FROM llr
    ),
    crossings AS (
      SELECT t, c_t, llr_t,
             ROW_NUMBER() OVER (ORDER BY t) AS pick
      FROM scored
      WHERE llr_t >= {_A} OR llr_t <= {_B}
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(*) FILTER (WHERE llr_t >= {_A} OR llr_t <= {_B})
                  AS BIGINT) AS n_beyond_bounds
      FROM scored
    )
    SELECT tot.n_events, tot.n_beyond_bounds,
           CAST(c.t AS BIGINT) AS first_decision_at,
           c.c_t AS purchases_at_decision,
           round(c.llr_t, 6) AS llr_at_decision,
           CASE WHEN c.llr_t >= {_A} THEN 'accept_h1_rate_higher'
                ELSE 'accept_h0_rate_base' END AS decision
    FROM tot LEFT JOIN crossings c ON c.pick = 1
    """,
)
def q_sprt_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test streamed over the event
    log in (ts, event_id) order: testing purchase-rate H0 p=0.10 against
    H1 p=0.12 at α=β=0.05, LLRₜ = cₜ·ln(p1/p0) + (t−cₜ)·ln(q1/q0),
    reporting the first boundary crossing — the early-stopping design that
    q_ab_conversion_lift's fixed-horizon test cannot provide, and the
    canonical "decide while the stream is still flowing" operator for a
    streaming engine.

    Determinism: the running state is an integer purchase count; LLRₜ is
    two integer·literal products (the ln increments are precomputed shared
    literals), so the discrete crossing row is ulp-safe.

    Scale: the global ordering is the one inherently sequential stage
    (single-partition window — in production this is exactly a stateful
    streaming fold via applyInPandasWithState, state = one counter);
    everything else is O(1) per event with the crossing scan pruned by the
    boundary filter. §2.B [NS] + streaming surface.
    """
    ev = load(spark, sf_dir, "events")
    ordered = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        F.row_number().over(Window.orderBy("ts", "event_id")).alias("t"),
    )
    llr = ordered.select(
        "t",
        F.sum("x")
        .over(Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("c_t"),
    )
    scored = llr.select(
        "t",
        "c_t",
        (F.col("c_t") * F.lit(_L1) + (F.col("t") - F.col("c_t")) * F.lit(_L0)).alias(
            "llr_t"
        ),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the first-crossing pick and the totals
    # each re-derived the stream (2 events scans AND 2 global cumulative
    # sorts in the plan); the narrow 3-column stream materializes once
    # (posting-list class: state linear in the corpus)
    beyond = F.col("llr_t") >= F.lit(_A)
    below = F.col("llr_t") <= F.lit(_B)
    crossings = (
        scored.filter(beyond | below)
        .select(
            "t", "c_t", "llr_t", F.row_number().over(Window.orderBy("t")).alias("pick")
        )
        .filter(F.col("pick") == 1)
    )
    tot = scored.agg(
        bcount("n_events"),
        F.count_if(beyond | below).cast("bigint").alias("n_beyond_bounds"),
    )
    return tot.withColumn("jk", F.lit(1)).join(
        F.broadcast(crossings.withColumn("jk", F.lit(1))), "jk", "left"
    ).select(
        "n_events",
        "n_beyond_bounds",
        F.col("t").cast("bigint").alias("first_decision_at"),
        F.col("c_t").alias("purchases_at_decision"),
        F.round("llr_t", 6).alias("llr_at_decision"),
        F.when(F.col("llr_t") >= F.lit(_A), "accept_h1_rate_higher")
        .otherwise("accept_h0_rate_base")
        .alias("decision"),
    )
