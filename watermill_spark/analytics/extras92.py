"""Analytics batch 100: nearest-neighbor caliper matching (the
propensity-style causal estimator), a deterministic Poisson-bootstrap
confidence interval, and the normalized spectral entropy of the daily
revenue series.

Matching is the workhorse of observational causal inference: match each
treated unit to its nearest control on a covariate (with replacement,
within a caliper) and average the outcome differences. The Poisson
bootstrap is the resampling scheme that actually works on a cluster —
per-row i.i.d. Poisson(1) weights need no global sample index, so every
replicate is a weighted aggregation of the same scan (Chamandy et al.,
"Estimating Uncertainty for Massive Data Streams", Google 2012). Here
the weights come from a salted md5 so both engines draw the *same*
replicates (determinism rule: the hash IS the randomness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, sql_hexval
from .extras48 import _SQL_DAILY_1995, _spark_centered_daily
from .registry import load, register

_CALIPER = 100.0


@register(
    "q_caliper_matching",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS y
      FROM orders GROUP BY 1
    ),
    cust AS (
      SELECT c_custkey, c_acctbal AS x,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
             CAST(COALESCE(s.y, 0) AS DOUBLE) AS y
      FROM customer LEFT JOIN spend s ON c_custkey = s.o_custkey
    ),
    ranked AS (
      SELECT c_custkey, x, treated, y,
             LAST_VALUE(CASE WHEN treated = 0 THEN x END IGNORE NULLS)
               OVER (ORDER BY x, c_custkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS px,
             LAST_VALUE(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
               OVER (ORDER BY x, c_custkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS py,
             FIRST_VALUE(CASE WHEN treated = 0 THEN x END IGNORE NULLS)
               OVER (ORDER BY x, c_custkey
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS nx,
             FIRST_VALUE(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
               OVER (ORDER BY x, c_custkey
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS ny
      FROM cust
    ),
    matched AS (
      SELECT x, y,
             CASE WHEN px IS NOT NULL
                       AND (nx IS NULL OR x - px <= nx - x)
                  THEN x - px ELSE nx - x END AS dist,
             CASE WHEN px IS NOT NULL
                       AND (nx IS NULL OR x - px <= nx - x)
                  THEN py ELSE ny END AS yc
      FROM ranked WHERE treated = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
           CAST(COUNT(*) FILTER (WHERE dist < {_CALIPER}) AS BIGINT)
             AS n_matched,
           round(CAST(SUM(CAST(y - yc AS DECIMAL(18,6)))
                      FILTER (WHERE dist < {_CALIPER}) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE dist < {_CALIPER}), 6) AS att,
           round(CAST(SUM(CAST(dist AS DECIMAL(18,6)))
                      FILTER (WHERE dist < {_CALIPER}) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE dist < {_CALIPER}), 6)
             AS mean_match_dist
    FROM matched
    """,
)
def q_caliper_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor caliper matching with replacement: every BUILDING
    customer (treated) is matched to the closest non-BUILDING customer
    (control) on account balance — the sorted-union trick finds each
    treated unit's nearest control above and below in one window pass
    (no pairwise join), keeps the closer one, and drops matches farther
    than the caliper (100 balance units). ATT = mean matched outcome
    difference in total order spend — the estimator propensity-score
    pipelines run after fitting the score; here the covariate is matched
    directly.

    Tie handling is total-order deterministic: controls sort by
    (balance, custkey), equidistant neighbors resolve to the earlier
    one. Outcome/distance sums are decimal-exact.

    Scale: one per-customer aggregation join, then a single sort —
    at 100 TB a range-partitioned sort; the carry-forward/backward
    windows are running frames with O(1) state. No pairwise expansion
    (cf. q_knn_bruteforce, which deliberately is). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(F.sum(dec("o_totalprice")).alias("sy"))
    c = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        "c_custkey",
        F.col("c_acctbal").alias("x"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("treated"),
        F.coalesce(F.col("sy"), F.lit(0)).cast("double").alias("y"),
    )
    ctrl = F.col("treated") == 0
    # r7 (guide §2.5): the carry-forward/backward windows ran single-task
    # over the data-scaled customer grid. Two-level frontier (the
    # q_out_of_order_lateness decomposition): range-partition on the
    # (x, custkey) total order; the nearest preceding control is the
    # within-partition carry-forward if one exists, else the LAST control
    # of any preceding partition (ranges are ordered, so that is the max
    # control struct over preceding pids — order-free struct max/min on
    # the ≤nparts grid); symmetrically for the following control.
    # Values are carried, never re-accumulated, so every px/py/nx/ny is
    # identical.
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    g = (
        c.repartitionByRange(nparts, "x", "c_custkey")
        .sortWithinPartitions("x", "c_custkey")
        .select(
            "x",
            "y",
            "treated",
            "c_custkey",
            F.monotonically_increasing_id().alias("_mid"),
        )
        .localCheckpoint(eager=True)
    )
    pid = F.shiftright("_mid", 33)
    cstruct = F.when(ctrl, F.struct("x", "c_custkey", "y"))
    per = g.groupBy(pid.alias("_pid")).agg(
        F.max(cstruct).alias("_pmax"), F.min(cstruct).alias("_pmin")
    )
    wprev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    wnext = Window.orderBy("_pid").rowsBetween(1, Window.unboundedFollowing)
    off = per.select(
        "_pid",
        F.max("_pmax").over(wprev).alias("_pb"),
        F.min("_pmin").over(wnext).alias("_nf"),
    ).localCheckpoint(eager=True)
    wb = Window.partitionBy(pid).orderBy("_mid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wf = Window.partitionBy(pid).orderBy("_mid").rowsBetween(
        1, Window.unboundedFollowing
    )
    joined = g.join(F.broadcast(off), pid == F.col("_pid"))
    prev_s = F.coalesce(
        F.last(cstruct, ignorenulls=True).over(wb), F.col("_pb")
    )
    next_s = F.coalesce(
        F.first(cstruct, ignorenulls=True).over(wf), F.col("_nf")
    )
    ranked = joined.select(
        "x",
        "y",
        "treated",
        prev_s["x"].alias("px"),
        prev_s["y"].alias("py"),
        next_s["x"].alias("nx"),
        next_s["y"].alias("ny"),
    )
    use_prev = F.col("px").isNotNull() & (
        F.col("nx").isNull() | (F.col("x") - F.col("px") <= F.col("nx") - F.col("x"))
    )
    matched = ranked.filter(F.col("treated") == 1).select(
        "y",
        F.when(use_prev, F.col("x") - F.col("px"))
        .otherwise(F.col("nx") - F.col("x"))
        .alias("dist"),
        F.when(use_prev, F.col("py")).otherwise(F.col("ny")).alias("yc"),
    )
    ok = F.col("dist") < _CALIPER
    return matched.agg(
        bcount("n_treated"),
        F.count_if(ok).cast("bigint").alias("n_matched"),
        F.round(
            F.sum(F.when(ok, (F.col("y") - F.col("yc")).cast("decimal(18,6)")))
            .cast("double")
            / F.count_if(ok),
            6,
        ).alias("att"),
        F.round(
            F.sum(F.when(ok, F.col("dist").cast("decimal(18,6)"))).cast("double")
            / F.count_if(ok),
            6,
        ).alias("mean_match_dist"),
    )


_R = 20
# Poisson(1) CDF thresholds: P(X <= k) for k = 0..5
_POIS = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _sql_u24(key: str, salt: str) -> str:
    """First 6 md5 hex digits of salt:key as a uniform in [0,1)."""
    h = f"md5({salt} || ':' || CAST({key} AS VARCHAR))"
    terms = " + ".join(
        f"{sql_hexval(f'substr({h}, {i + 1}, 1)')} * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(CAST({terms} AS DOUBLE) / 16777216.0)"


def _u24(key: F.Column, salt: F.Column) -> F.Column:
    h = F.md5(F.concat(salt, F.lit(":"), key.cast("string")))
    return (
        F.conv(F.substring(h, 1, 6), 16, 10).cast("double") / 16777216.0
    )


_SQL_U = _sql_u24("o.o_orderkey", "'pb' || CAST(r.r AS VARCHAR)")
_SQL_WT = " + ".join(
    f"CASE WHEN {_SQL_U} >= {c!r} THEN 1 ELSE 0 END" for c in _POIS
)


@register(
    "q_poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(range(0, {_R})) AS r),
    w AS (
      SELECT r.r, o.o_totalprice,
             {_SQL_WT}
               AS wt
      FROM orders o, reps r
    ),
    means AS (
      SELECT r,
             CAST(SUM(wt * CAST(o_totalprice AS DECIMAL(18,6)))
                  AS DOUBLE) / SUM(wt) AS m
      FROM w GROUP BY 1
    ),
    boot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
             CAST(SUM(CAST(m AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS mbar,
             SUM(CAST(m * m AS DECIMAL(38,12))) AS sm2,
             SUM(CAST(m AS DECIMAL(28,12))) AS sm,
             quantile_cont(m, 0.05) AS p05,
             quantile_cont(m, 0.95) AS p95
      FROM means
    ),
    full_mean AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM orders
    )
    SELECT f.n_orders, round(f.mu, 6) AS mean_full,
           b.n_reps,
           round(sqrt((CAST(b.n_reps AS DOUBLE) * CAST(b.sm2 AS DOUBLE)
                       - CAST(b.sm AS DOUBLE) * CAST(b.sm AS DOUBLE))
                      / (CAST(b.n_reps AS DOUBLE) * (b.n_reps - 1))), 6)
             AS boot_se,
           round(b.p05, 6) AS boot_p05,
           round(b.p95, 6) AS boot_p95
    FROM full_mean f, boot b
    """,
)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order value: each of 20 replicates
    reweights every order by an i.i.d. Poisson(1) draw — the
    cluster-friendly bootstrap (no global resample index, replicates are
    plain weighted aggregations of one scan; Chamandy et al. 2012). The
    draw is the inverse-CDF step function applied to a salted-md5
    uniform, so both engines produce identical weights and the replicate
    means match bit-for-bit before rounding. Reports the full-sample
    mean, bootstrap SE, and the 5th/95th percentile interval.

    Weighted sums are DECIMAL-exact (integer weight × decimal price);
    the 20 replicate means ride DECIMAL(28/38,12) into the SE.

    Scale: the replicate spine is a 20-row broadcast; one fan-out pass
    over orders with map-side partial aggregation per (replicate) — at
    100 TB this is 20× one scan's work with no shuffle growth. The
    1-row full-mean/boot aggregates cross-join (whitelisted BNLJ).
    §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    reps = spark.range(_R).select(F.col("id").cast("int").alias("r"))
    u = _u24(
        F.col("o_orderkey"),
        F.concat(F.lit("pb"), F.col("r").cast("string")),
    )
    wt = sum(F.when(u >= F.lit(c), 1).otherwise(0) for c in _POIS)
    w = orders.crossJoin(F.broadcast(reps)).select(
        "r", "o_totalprice", wt.alias("wt")
    )
    means = w.groupBy("r").agg(
        (
            F.sum(F.col("wt") * dec("o_totalprice")).cast("double")
            / F.sum("wt")
        ).alias("m")
    )
    boot = means.agg(
        bcount("n_reps"),
        F.sum(F.col("m").cast("decimal(28,12)")).alias("sm"),
        F.sum((F.col("m") * F.col("m")).cast("decimal(38,12)")).alias("sm2"),
        F.percentile("m", 0.05).alias("p05"),
        F.percentile("m", 0.95).alias("p95"),
    )
    full_mean = orders.agg(
        bcount("n_orders"),
        (F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
    )
    nr = F.col("n_reps").cast("double")
    return full_mean.crossJoin(boot).select(
        "n_orders",
        F.round("mu", 6).alias("mean_full"),
        "n_reps",
        F.round(
            F.sqrt(
                (
                    nr * F.col("sm2").cast("double")
                    - F.col("sm").cast("double") * F.col("sm").cast("double")
                )
                / (nr * (F.col("n_reps") - 1))
            ),
            6,
        ).alias("boot_se"),
        F.round("p05", 6).alias("boot_p05"),
        F.round("p95", 6).alias("boot_p95"),
    )


_TWO_PI = 6.283185307179586
_K = 16


@register(
    "q_spectral_entropy",
    oracle=f"""
    WITH {_SQL_DAILY_1995},
    freq AS (SELECT unnest(range(1, {_K + 1})) AS k),
    terms AS (
      SELECT f.k,
             CAST(SUM(CAST(c.x * cos({_TWO_PI} * f.k * c.t / 365.0)
                      AS DECIMAL(28,6))) AS DOUBLE) AS re,
             CAST(SUM(CAST(c.x * sin({_TWO_PI} * f.k * c.t / 365.0)
                      AS DECIMAL(28,6))) AS DOUBLE) AS im
      FROM c, freq f GROUP BY 1
    ),
    p AS (
      SELECT CAST(k AS BIGINT) AS k, re * re + im * im AS pw FROM terms
    ),
    tot AS (
      SELECT SUM(CAST(pw AS DECIMAL(38,6))) AS tp FROM p
    ),
    sh AS (
      SELECT p.k, p.pw, p.pw / CAST(tot.tp AS DOUBLE) AS share
      FROM p, tot
    ),
    ent AS (
      SELECT round(CAST(SUM(CAST(-share * ln(share) AS DECIMAL(28,15)))
                   AS DOUBLE) / ln({_K}.0), 6) AS spectral_entropy_norm
      FROM sh
    )
    SELECT sh.k, round(sh.pw / 1e9, 6) AS power_1e9,
           round(sh.share, 6) AS power_share,
           ent.spectral_entropy_norm
    FROM sh, ent
    """,
)
def q_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of 1995 daily revenue: single-frequency
    DFT power at the first 16 annual harmonics (k cycles/year), shares
    p_k = P_k/ΣP, and H = −Σ p ln p / ln 16 ∈ [0,1] — low when one
    seasonal line (the weekly harmonic family) carries the spectrum,
    →1 for white noise. The frequency-domain twin of
    q_permutation_entropy, built on q_dft_periodogram's determinism
    stance (per-row DECIMAL casts of transcendental products; outputs
    rounded inside the ulp margin).

    Scale: 16-row frequency spine broadcast across the calendar-bounded
    daily grid, one map-side-combined aggregation; 1-row total-power and
    entropy aggregates cross-join back onto the 16 spectral rows
    (whitelisted BNLJ). §2.B [NS].
    """
    cdf = _spark_centered_daily(spark, sf_dir)
    freq = spark.range(1, _K + 1).select(F.col("id").cast("int").alias("k"))
    ang = F.lit(_TWO_PI) * F.col("k") * F.col("t") / F.lit(365.0)
    terms = (
        cdf.crossJoin(F.broadcast(freq))
        .groupBy("k")
        .agg(
            F.sum((F.col("x") * F.cos(ang)).cast("decimal(28,6)"))
            .cast("double")
            .alias("re"),
            F.sum((F.col("x") * F.sin(ang)).cast("decimal(28,6)"))
            .cast("double")
            .alias("im"),
        )
    )
    p = terms.select(
        F.col("k").cast("bigint").alias("k"),
        (F.col("re") * F.col("re") + F.col("im") * F.col("im")).alias("pw"),
    )
    tot = p.agg(F.sum(F.col("pw").cast("decimal(38,6)")).alias("tp"))
    sh = p.crossJoin(F.broadcast(tot)).select(
        "k", "pw", (F.col("pw") / F.col("tp").cast("double")).alias("share")
    )
    ent = sh.agg(
        F.round(
            F.sum((-F.col("share") * F.log("share")).cast("decimal(28,15)"))
            .cast("double")
            / F.log(F.lit(float(_K))),
            6,
        ).alias("spectral_entropy_norm")
    )
    return sh.crossJoin(ent).select(
        "k",
        F.round(F.col("pw") / F.lit(1e9), 6).alias("power_1e9"),
        F.round("share", 6).alias("power_share"),
        "spectral_entropy_norm",
    )
