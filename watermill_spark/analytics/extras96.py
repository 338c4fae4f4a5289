"""Analytics batch 104: Che-approximation LRU cache hit-ratio model,
delta-method standard error for a ratio metric, and a truncated-EWMA
control chart.

The Che approximation is the workhorse analytical model of LRU caches:
an item accessed at rate λ_i hits with probability 1 − e^{−λ_i T},
where the characteristic time T solves C = Σ(1 − e^{−λ_i T}) — we
Newton-iterate that root, which is how CDN/page-cache capacity planning
is actually done without replaying traces. The delta method is the
standard answer to "what's the SE of revenue-per-session" (a ratio of
two correlated user-level means). The EWMA chart is the
small-shift-sensitive SPC complement to q_xmr_control_chart, written
with an explicit 20-term truncated kernel so both engines evaluate the
identical finite expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register

_NEWTON_ITERS = 4


@register(
    "q_che_lru_hit_ratio",
    oracle=f"""
    WITH freq AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    span AS (
      SELECT CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE)
               / 86400000000.0 AS days
      FROM events
    ),
    lam AS (
      SELECT f.cnt, CAST(f.cnt AS DOUBLE) / s.days AS l
      FROM freq f, span s
    ),
    cap AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS c FROM freq),
    t0 AS (SELECT 1.0 AS t, cap.c AS c FROM cap),
    t1 AS (
      SELECT t0.t - (CAST(SUM(CAST(1 - exp(-lam.l * t0.t)
                                   AS DECIMAL(38,15))) AS DOUBLE)
                     - t0.c)
                    / CAST(SUM(CAST(lam.l * exp(-lam.l * t0.t)
                                    AS DECIMAL(38,15))) AS DOUBLE) AS t,
             t0.c AS c
      FROM lam, t0 GROUP BY t0.t, t0.c
    ),
    t2 AS (
      SELECT t1.t - (CAST(SUM(CAST(1 - exp(-lam.l * t1.t)
                                   AS DECIMAL(38,15))) AS DOUBLE)
                     - t1.c)
                    / CAST(SUM(CAST(lam.l * exp(-lam.l * t1.t)
                                    AS DECIMAL(38,15))) AS DOUBLE) AS t,
             t1.c AS c
      FROM lam, t1 GROUP BY t1.t, t1.c
    ),
    t3 AS (
      SELECT t2.t - (CAST(SUM(CAST(1 - exp(-lam.l * t2.t)
                                   AS DECIMAL(38,15))) AS DOUBLE)
                     - t2.c)
                    / CAST(SUM(CAST(lam.l * exp(-lam.l * t2.t)
                                    AS DECIMAL(38,15))) AS DOUBLE) AS t,
             t2.c AS c
      FROM lam, t2 GROUP BY t2.t, t2.c
    ),
    t4 AS (
      SELECT t3.t - (CAST(SUM(CAST(1 - exp(-lam.l * t3.t)
                                   AS DECIMAL(38,15))) AS DOUBLE)
                     - t3.c)
                    / CAST(SUM(CAST(lam.l * exp(-lam.l * t3.t)
                                    AS DECIMAL(38,15))) AS DOUBLE) AS t,
             t3.c AS c
      FROM lam, t3 GROUP BY t3.t, t3.c
    ),
    hit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(cnt) AS BIGINT) AS n_accesses,
             CAST(SUM(CAST(1 - exp(-lam.l * t4.t)
                           AS DECIMAL(38,15))) AS DOUBLE) AS occupancy,
             CAST(SUM(CAST(lam.l * (1 - exp(-lam.l * t4.t))
                           AS DECIMAL(38,15))) AS DOUBLE) AS hit_rate_num,
             CAST(SUM(CAST(lam.l AS DECIMAL(38,15))) AS DOUBLE)
               AS total_rate,
             MAX(t4.t) AS t_char,
             MAX(t4.c) AS cache_slots
      FROM lam, t4
    )
    SELECT n_items, n_accesses, cache_slots,
           round(t_char, 6) AS t_char_days,
           round(occupancy, 3) AS expected_occupancy,
           round(hit_rate_num / total_rate, 6) AS che_hit_ratio
    FROM hit
    """,
)
def q_che_lru_hit_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Che approximation of an LRU cache's hit ratio over the per-user
    event stream: treating each user's session state as a cacheable item
    with Poisson access rate λ_i (events per day), the characteristic
    time T solves C = Σ(1 − e^{−λ_i T}) for a cache holding half the
    item population (four Newton steps from T=1 day), and the traffic-weighted hit ratio is
    Σλ_i(1−e^{−λ_i T})/Σλ_i — the standard analytical sizing model for
    LRU (Che et al. 2002; Fagin's window model) that replaces a trace
    replay with one aggregation per Newton step. expected_occupancy ≈
    cache_slots is the convergence check.

    λ comes from integer counts over an integer time span; each
    exp-term rides DECIMAL(38,15) so accumulation order can't matter.

    Scale: fact → |users| frequency table once; each Newton step is one
    map-side-combined aggregation with the 1-row T broadcast
    (whitelisted BNLJ) — iteration count fixed, no fact re-scan.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(bcount("cnt"))
    span = ev.agg(
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).cast(
                "double"
            )
            / F.lit(86400000000.0)
        ).alias("days")
    )
    # checkpointed once (r6): every Newton step re-referenced lam, each
    # re-deriving the per-user rollup (11 events scans in the plan)
    lam = freq.crossJoin(F.broadcast(span)).select(
        "cnt", (F.col("cnt").cast("double") / F.col("days")).alias("l")
    ).localCheckpoint(eager=True)
    d15 = "decimal(38,15)"
    cap = freq.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("c")
    )
    t = cap.select(F.lit(1.0).alias("t"), "c")  # 1-row seed
    for _ in range(_NEWTON_ITERS):
        expterm = F.exp(-F.col("l") * F.col("t"))
        t = (
            lam.crossJoin(F.broadcast(t))
            .groupBy("t", "c")
            .agg(
                F.sum((1 - expterm).cast(d15)).cast("double").alias("occ"),
                F.sum((F.col("l") * expterm).cast(d15))
                .cast("double")
                .alias("docc"),
            )
            .select(
                (
                    F.col("t")
                    - (F.col("occ") - F.col("c")) / F.col("docc")
                ).alias("t"),
                "c",
            )
        )
    expterm = F.exp(-F.col("l") * F.col("t"))
    hit = lam.crossJoin(F.broadcast(t)).agg(
        bcount("n_items"),
        F.sum("cnt").cast("bigint").alias("n_accesses"),
        F.sum((1 - expterm).cast(d15)).cast("double").alias("occupancy"),
        F.sum((F.col("l") * (1 - expterm)).cast(d15))
        .cast("double")
        .alias("hit_rate_num"),
        F.sum(F.col("l").cast(d15)).cast("double").alias("total_rate"),
        F.max("t").alias("t_char"),
        F.max("c").alias("cache_slots"),
    )
    return hit.select(
        "n_items",
        "n_accesses",
        "cache_slots",
        F.round("t_char", 6).alias("t_char_days"),
        F.round("occupancy", 3).alias("expected_occupancy"),
        F.round(F.col("hit_rate_num") / F.col("total_rate"), 6).alias(
            "che_hit_ratio"
        ),
    )


@register(
    "q_delta_method_ratio_ci",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                           ELSE 0 END AS DECIMAL(18,6))) AS rev,
             CAST(COUNT(*) AS BIGINT) AS sessions
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT CAST(rev AS DOUBLE) AS a, CAST(sessions AS DOUBLE) AS b
      FROM per_user
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(a AS DECIMAL(38,12))) AS sa,
             SUM(CAST(b AS DECIMAL(38,12))) AS sb,
             SUM(CAST(a * a AS DECIMAL(38,12))) AS saa,
             SUM(CAST(b * b AS DECIMAL(38,12))) AS sbb,
             SUM(CAST(a * b AS DECIMAL(38,12))) AS sab
      FROM g
    ),
    c AS (
      SELECT n,
             CAST(sa AS DOUBLE) / n AS ma,
             CAST(sb AS DOUBLE) / n AS mb,
             (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             / (CAST(n AS DOUBLE) * (n - 1)) AS va,
             (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
             / (CAST(n AS DOUBLE) * (n - 1)) AS vb,
             (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / (CAST(n AS DOUBLE) * (n - 1)) AS cab
      FROM m
    )
    SELECT n AS n_users,
           round(ma / mb, 6) AS revenue_per_session,
           round(sqrt((va / (ma * ma) - 2 * cab / (ma * mb)
                       + vb / (mb * mb)) / n) * (ma / mb), 6)
             AS delta_se,
           round(ma / mb - 1.959964 * sqrt((va / (ma * ma)
                 - 2 * cab / (ma * mb) + vb / (mb * mb)) / n)
                 * (ma / mb), 6) AS ci_lo,
           round(ma / mb + 1.959964 * sqrt((va / (ma * ma)
                 - 2 * cab / (ma * mb) + vb / (mb * mb)) / n)
                 * (ma / mb), 6) AS ci_hi
    FROM c
    """,
)
def q_delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for revenue-per-session: the
    metric is a ratio of two correlated user-level means (purchase
    revenue / session count), whose naive per-row SE is wrong because
    users, not sessions, are the independent units — the delta method
    gives Var(Ā/B̄) ≈ (ā/b̄)²(v_a/ā² − 2c_ab/āb̄ + v_b/b̄²)/n, the
    standard ratio-metric machinery in every A/B platform (the
    analytical twin of q_poisson_bootstrap_ci's resampling answer).

    User-level moments are decimal-exact; the ratio, SE, and the ±1.96
    CI are fixed double expressions.

    Scale: one user-keyed aggregation (map-side combined) then a 1-row
    moment fold — O(scan). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0)
            .cast("decimal(18,6)")
        ).alias("rev"),
        bcount("sessions"),
    )
    g = per_user.select(
        F.col("rev").cast("double").alias("a"),
        F.col("sessions").cast("double").alias("b"),
    )
    d12 = "decimal(38,12)"
    aa, bb = F.col("a"), F.col("b")
    m = g.agg(
        bcount("n"),
        F.sum(aa.cast(d12)).alias("sa"),
        F.sum(bb.cast(d12)).alias("sb"),
        F.sum((aa * aa).cast(d12)).alias("saa"),
        F.sum((bb * bb).cast(d12)).alias("sbb"),
        F.sum((aa * bb).cast(d12)).alias("sab"),
    )
    nd = F.col("n").cast("double")
    ma = F.col("sa").cast("double") / F.col("n")
    mb = F.col("sb").cast("double") / F.col("n")
    va = (nd * F.col("saa").cast("double") - F.col("sa").cast("double") * F.col("sa").cast("double")) / (nd * (F.col("n") - 1))
    vb = (nd * F.col("sbb").cast("double") - F.col("sb").cast("double") * F.col("sb").cast("double")) / (nd * (F.col("n") - 1))
    cab = (nd * F.col("sab").cast("double") - F.col("sa").cast("double") * F.col("sb").cast("double")) / (nd * (F.col("n") - 1))
    c = m.select(
        "n", ma.alias("ma"), mb.alias("mb"), va.alias("va"), vb.alias("vb"),
        cab.alias("cab"),
    )
    ma, mb = F.col("ma"), F.col("mb")
    relvar = (
        F.col("va") / (ma * ma)
        - 2 * F.col("cab") / (ma * mb)
        + F.col("vb") / (mb * mb)
    )
    se = F.sqrt(relvar / F.col("n")) * (ma / mb)
    return c.select(
        F.col("n").alias("n_users"),
        F.round(ma / mb, 6).alias("revenue_per_session"),
        F.round(se, 6).alias("delta_se"),
        F.round(ma / mb - 1.959964 * se, 6).alias("ci_lo"),
        F.round(ma / mb + 1.959964 * se, 6).alias("ci_hi"),
    )


_EWMA_LAMBDA = 0.2
_EWMA_K = 20
# truncated kernel weights lambda*(1-lambda)^j, j = 0..K-1
_EWMA_W = [_EWMA_LAMBDA * (1 - _EWMA_LAMBDA) ** j for j in range(_EWMA_K)]
_EWMA_WSUM = sum(_EWMA_W)


def _sql_ewma(xcol: str) -> str:
    terms = " + ".join(
        f"{w!r} * lag({xcol}, {j}) OVER (ORDER BY day)" if j else f"{w!r} * {xcol}"
        for j, w in enumerate(_EWMA_W)
    )
    return f"({terms}) / {_EWMA_WSUM!r}"


@register(
    "q_ewma_control_chart",
    oracle=f"""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / 1e6 AS x
      FROM orders GROUP BY 1
    ),
    e AS (
      SELECT day, x, {_sql_ewma("x")} AS ewma,
             row_number() OVER (ORDER BY day) AS rn
      FROM d
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mu,
             sqrt((CAST(COUNT(*) AS DOUBLE)
                   * CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)
                   - CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
                     * CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE))
                  / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1))) AS sigma
      FROM d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           round(MAX(s.mu), 6) AS center,
           round(MAX(s.sigma)
                 * sqrt({_EWMA_LAMBDA!r} / (2 - {_EWMA_LAMBDA!r})), 6)
             AS ewma_sigma,
           CAST(COUNT(*) FILTER (
             WHERE e.ewma > s.mu + 3 * s.sigma
                     * sqrt({_EWMA_LAMBDA!r} / (2 - {_EWMA_LAMBDA!r})))
             AS BIGINT) AS n_above_ucl,
           CAST(COUNT(*) FILTER (
             WHERE e.ewma < s.mu - 3 * s.sigma
                     * sqrt({_EWMA_LAMBDA!r} / (2 - {_EWMA_LAMBDA!r})))
             AS BIGINT) AS n_below_lcl
    FROM e, s WHERE e.rn >= {_EWMA_K}
    """,
)
def q_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over daily order revenue ($M): the
    exponentially-weighted moving average (λ=0.2, kernel truncated at 20
    lags and renormalized so both engines evaluate the identical finite
    dot product) is scored against ±3σ·√(λ/(2−λ)) limits — the chart
    that catches sustained small shifts the XmR chart
    (q_xmr_control_chart) misses, at the cost of slower detection of
    single spikes. Days before the kernel fills are excluded.

    The 20-term kernel is one literal expression chain (identical op
    order on both engines — no accumulation ambiguity); limit moments
    are decimal-exact.

    Scale: fact → |days| grid; one window pass carrying 20 lags of O(1)
    state; the 1-row limit aggregate cross-joins the grid (whitelisted
    BNLJ). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the EWMA window pass and the sigma moments
    # both re-derived the rollup (2 orders scans in the plan); the
    # calendar-bounded day grid materializes once
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        (F.sum(dec("o_totalprice")).cast("double") / F.lit(1e6)).alias("x")
    ).localCheckpoint(eager=True)
    w = Window.orderBy("day")
    ew = None
    for j, wt in enumerate(_EWMA_W):
        term = F.lit(wt) * (F.col("x") if j == 0 else F.lag("x", j).over(w))
        ew = term if ew is None else ew + term
    e = d.select(
        "x",
        (ew / F.lit(_EWMA_WSUM)).alias("ewma"),
        F.row_number().over(w).alias("rn"),
    )
    d12 = "decimal(38,12)"
    nd = F.count(F.lit(1)).cast("double")
    s = d.agg(
        bcount("n"),
        (F.sum(F.col("x").cast(d12)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
        F.sqrt(
            (
                nd * F.sum((F.col("x") * F.col("x")).cast(d12)).cast("double")
                - F.sum(F.col("x").cast(d12)).cast("double")
                * F.sum(F.col("x").cast(d12)).cast("double")
            )
            / (nd * (F.count(F.lit(1)) - 1))
        ).alias("sigma"),
    )
    sq = F.sqrt(F.lit(_EWMA_LAMBDA) / (2 - F.lit(_EWMA_LAMBDA)))
    return (
        e.filter(F.col("rn") >= _EWMA_K)
        .crossJoin(F.broadcast(s))
        .agg(
            bcount("n_days_scored"),
            F.round(F.max("mu"), 6).alias("center"),
            F.round(
                F.max(
                    F.col("sigma")
                    * F.sqrt(F.lit(_EWMA_LAMBDA) / (2 - F.lit(_EWMA_LAMBDA)))
                ),
                6,
            ).alias("ewma_sigma"),
            F.count_if(F.col("ewma") > F.col("mu") + 3 * F.col("sigma") * sq)
            .cast("bigint")
            .alias("n_above_ucl"),
            F.count_if(F.col("ewma") < F.col("mu") - 3 * F.col("sigma") * sq)
            .cast("bigint")
            .alias("n_below_lcl"),
        )
    )
