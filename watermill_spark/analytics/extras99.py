"""Analytics batch 107: restricted mean survival time, exponential
retention-decay fit, and Anderson-Darling hash uniformity.

RMST is the survival-analysis summary regulators now prefer over hazard
ratios: "average days alive (active) over the first τ days", read as
the area under the Kaplan-Meier curve truncated at τ — it stays valid
when hazards cross. The retention fit turns the monthly cohort curve
into the two numbers a growth team actually quotes (decay rate and
half-life) via a log-linear OLS. Anderson-Darling completes the hash
uniformity suite (chi² bins → KS sup-norm → AD, which weights the
tails where bucket-assignment skew actually bites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, OLS_SLOPE_SQL, bcount, hexval8, sql_hexval8
from .distrib import two_level_order
from .registry import load, register

_TAU_DAYS = 60
_CENSOR_GAP_DAYS = 14
_US_PER_DAY = 86400000000


@register(
    "q_rmst",
    oracle=f"""
    WITH anchor AS (SELECT epoch_us(MAX(ts)) AS aus FROM events),
    users AS (
      SELECT user_id,
             (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // {_US_PER_DAY} AS t,
             CASE WHEN a.aus - epoch_us(MAX(ts))
                       > {_CENSOR_GAP_DAYS} * {_US_PER_DAY}
                  THEN 1 ELSE 0 END AS died
      FROM events, anchor a GROUP BY user_id, a.aus
    ),
    grid AS (
      SELECT t, CAST(SUM(died) AS BIGINT) AS d,
             CAST(SUM(1 - died) AS BIGINT) AS c
      FROM users GROUP BY t
    ),
    km AS (
      SELECT t, d, c,
             CAST(SUM(d + c) OVER () AS BIGINT)
               - COALESCE(SUM(d + c) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk,
             CAST(SUM(d + c) OVER () AS BIGINT) AS n_total
      FROM grid
    ),
    surv AS (
      SELECT t, d, c, n_risk, n_total,
             exp(CAST(COALESCE(SUM(CAST(CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE -1000000.0 END
                                        AS DECIMAL(38,15))) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS DOUBLE)) AS s_prev,
             exp(CAST(SUM(CAST(CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE -1000000.0 END
                               AS DECIMAL(38,15))) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS DOUBLE)) AS s_at,
             COALESCE(LAG(t) OVER (ORDER BY t), 0) AS t_prev
      FROM km
    )
    SELECT MAX(n_total) AS n_users,
           CAST(SUM(d) AS BIGINT) AS n_deaths,
           CAST(SUM(c) AS BIGINT) AS n_censored,
           CAST({_TAU_DAYS} AS BIGINT) AS tau_days,
           round(CAST(SUM(CAST(s_prev * (LEAST(CAST(t AS DOUBLE), {_TAU_DAYS})
                                 - LEAST(CAST(t_prev AS DOUBLE), {_TAU_DAYS}))
                               AS DECIMAL(38,15))) AS DOUBLE)
                 + arg_max(s_at, t)
                   * GREATEST(0.0, {_TAU_DAYS} - CAST(MAX(t) AS DOUBLE)), 6)
             AS rmst_days,
           round(CAST(SUM(CASE WHEN t <= {_TAU_DAYS}
                               THEN CAST(CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE -1000000.0 END
                                         AS DECIMAL(38,15))
                               ELSE CAST(0 AS DECIMAL(38,15)) END)
                      AS DOUBLE), 10) AS log_km_at_tau
    FROM surv
    """,
)
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time of user activity lifetimes at
    τ=60 days: a user's lifetime runs from first to last event, counted
    a death only when the last event is >14 days before the corpus
    anchor (otherwise right-censored as still-active). Kaplan-Meier
    survival at each distinct lifetime day, then
    RMST = ∫₀^τ S(t)dt as the exact step integral
    Σ S(t⁻)·(min(t,τ) − min(t_prev,τ)) + S(t_max)·max(0, τ−t_max).
    log_km_at_tau reports ln S(τ) (exact log-sum form). Complements
    q_kaplan_meier_retention (the curve) and q_nelson_aalen (the
    hazard) with the regulator-preferred τ-truncated mean.

    Determinism: lifetimes are integer microsecond differences floor-
    divided to days; at-risk counts are exact integer cumsums; KM
    products run as DECIMAL(38,15) log-sums; the step integral sums
    per-interval terms through the same exact accumulator.

    Scale: one per-user rollup (map-side combine) with the 1-row anchor
    broadcast (whitelisted BNLJ) → a ≤|span-days| grid; the KM windows
    are single-partition only over that bounded grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.unix_micros(F.max("ts")).alias("aus"))
    users = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "aus")
        .agg(
            F.unix_micros(F.max("ts")).alias("last_us"),
            F.unix_micros(F.min("ts")).alias("first_us"),
        )
        .select(
            ((F.col("last_us") - F.col("first_us")) / F.lit(_US_PER_DAY))
            .cast("bigint")
            .alias("t"),
            F.when(
                F.col("aus") - F.col("last_us")
                > _CENSOR_GAP_DAYS * _US_PER_DAY,
                1,
            )
            .otherwise(0)
            .alias("died"),
        )
    )
    grid = users.groupBy("t").agg(
        F.sum("died").cast("bigint").alias("d"),
        F.sum(1 - F.col("died")).cast("bigint").alias("c"),
    )
    w_all = Window.partitionBy()
    w_excl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = grid.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all).cast("bigint")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_excl), F.lit(0))
        ).alias("n_risk"),
        F.sum(F.col("d") + F.col("c")).over(w_all).cast("bigint").alias("n_total"),
    )
    # degenerate final step (d == n_risk: everyone at risk dies) would be
    # ln(0) — DuckDB raises, Spark returns NULL and silently drops the term.
    # Explicit S=0 convention on both sides: sentinel -1e6 (exp ⇒ 0.0 exactly)
    lnterm = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(-1000000.0))
    surv = km.select(
        "t",
        "d",
        "c",
        "n_risk",
        "n_total",
        F.exp(
            F.coalesce(F.sum(lnterm.cast(D15)).over(w_excl), F.lit(0).cast(D15))
            .cast("double")
        ).alias("s_prev"),
        F.exp(F.sum(lnterm.cast(D15)).over(w_incl).cast("double")).alias("s_at"),
        F.coalesce(F.lag("t").over(Window.orderBy("t")), F.lit(0)).alias("t_prev"),
        F.row_number().over(Window.orderBy(F.col("t").desc())).alias("rn_desc"),
    )
    tau = F.lit(float(_TAU_DAYS))
    contrib = F.col("s_prev") * (
        F.least(F.col("t").cast("double"), tau)
        - F.least(F.col("t_prev").cast("double"), tau)
    )
    return surv.agg(
        F.max("n_total").alias("n_users"),
        F.sum("d").cast("bigint").alias("n_deaths"),
        F.sum("c").cast("bigint").alias("n_censored"),
        F.lit(_TAU_DAYS).cast("bigint").alias("tau_days"),
        F.round(
            F.sum(contrib.cast(D15)).cast("double")
            + F.max(F.when(F.col("rn_desc") == 1, F.col("s_at")))
            * F.greatest(F.lit(0.0), tau - F.max("t").cast("double")),
            6,
        ).alias("rmst_days"),
        F.round(
            F.sum(
                F.when(F.col("t") <= _TAU_DAYS, lnterm.cast(D15)).otherwise(
                    F.lit(0).cast(D15)
                )
            ).cast("double"),
            10,
        ).alias("log_km_at_tau"),
    )


@register(
    "q_retention_decay_fit",
    oracle=f"""
    WITH anchor AS (
      SELECT date_trunc('month', MAX(ts)) AS am FROM events
    ),
    um AS (
      SELECT DISTINCT user_id, date_trunc('month', ts) AS mon FROM events
    ),
    first_m AS (
      SELECT user_id, MIN(mon) AS m0 FROM um GROUP BY 1
    ),
    horizon AS (
      SELECT f.user_id,
             CAST(date_diff('month', f.m0, a.am) AS BIGINT) AS h
      FROM first_m f, anchor a
    ),
    active AS (
      SELECT CAST(date_diff('month', f.m0, u.mon) AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS num
      FROM um u JOIN first_m f ON f.user_id = u.user_id
      WHERE date_diff('month', f.m0, u.mon) >= 1
      GROUP BY 1
    ),
    denom AS (
      SELECT k.k, CAST(COUNT(*) AS BIGINT) AS den
      FROM horizon h
      JOIN (SELECT DISTINCT k FROM active) k ON h.h >= k.k
      GROUP BY 1
    ),
    pts AS (
      SELECT a.k AS x, ln(CAST(a.num AS DOUBLE) / d.den) AS y
      FROM active a JOIN denom d ON d.k = a.k
      WHERE a.num > 0 AND a.num < d.den
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y * y AS DECIMAL(38,15))) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT n AS n_points,
           round({OLS_SLOPE_SQL}, 6) AS decay_slope,
           round((sy - {OLS_SLOPE_SQL} * sx) / n, 6)
             AS log_intercept,
           round(-ln(2.0) / ({OLS_SLOPE_SQL}), 4)
             AS half_life_months,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def q_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit: pooled monthly retention
    r_k = (users active k months after their first month) /
    (users observable at offset k), log-linear OLS ln r_k = a + b·k over
    k ≥ 1 — the two-number summary (decay rate b, half-life −ln2/b) of
    the cohort curves q_events_retention_cohort lays out in full, plus
    the fit r². Observability uses each user's horizon to the corpus
    anchor month so young cohorts don't bias the tail downward.

    Determinism: numerators/denominators are integer counts; each OLS
    moment term is cast DECIMAL(38,15) before summing; the closed-form
    slope/intercept/r² are pure double expressions of those sums.

    Scale: one distinct (user, month) rollup → per-user first-month
    (both shuffle on user_id, so the join is co-partitioned); the k-grid
    is calendar-bounded (≤ span months), and the horizon≥k expansion is
    a broadcast non-equi join of that tiny grid (whitelisted BNLJ).
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    um = ev.select(
        "user_id", F.date_trunc("month", "ts").alias("mon")
    ).distinct()
    # checkpointed once (r6): anchor/first_m/active each re-derived the
    # distinct (user, month) rollup from the fact (6 events scans in the
    # plan); the rollup materializes once, and the anchor month now
    # derives from it (max month ≡ month of max ts — date_trunc is
    # monotone), so events is scanned exactly once
    um = um.localCheckpoint(eager=True)
    anchor = um.agg(F.max("mon").alias("am"))
    first_m = um.groupBy("user_id").agg(F.min("mon").alias("m0"))
    # first_m feeds both the horizon and the activity join; materialize
    # the per-user firsts once (same class as the pass-3 per-user grids)
    first_m = first_m.localCheckpoint(eager=True)
    horizon = first_m.crossJoin(F.broadcast(anchor)).select(
        F.months_between("am", "m0").cast("bigint").alias("h")
    )
    active = (
        um.join(first_m, "user_id")
        .select(F.months_between("mon", "m0").cast("bigint").alias("k"))
        .filter(F.col("k") >= 1)
        .groupBy("k")
        .agg(bcount("num"))
    )
    kgrid = active.select("k").distinct()
    denom = horizon.join(
        F.broadcast(kgrid), F.col("h") >= F.col("k")
    ).groupBy("k").agg(bcount("den"))
    pts = (
        active.join(denom, "k")
        .filter((F.col("num") > 0) & (F.col("num") < F.col("den")))
        .select(
            F.col("k").alias("x"),
            F.log(F.col("num").cast("double") / F.col("den")).alias("y"),
        )
    )
    x, y = F.col("x"), F.col("y")
    s = pts.agg(
        bcount("n"),
        F.sum(x.cast(D15)).cast("double").alias("sx"),
        F.sum(y.cast(D15)).cast("double").alias("sy"),
        F.sum((x * x).cast(D15)).cast("double").alias("sxx"),
        F.sum((x * y).cast(D15)).cast("double").alias("sxy"),
        F.sum((y * y).cast(D15)).cast("double").alias("syy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        n.alias("n_points"),
        F.round(slope, 6).alias("decay_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "log_intercept"
        ),
        F.round(-F.log(F.lit(2.0)) / slope, 4).alias("half_life_months"),
        F.round(
            F.pow(n * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / (
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


@register(
    "q_ad_uniformity",
    oracle=f"""
    WITH hashed AS (
      SELECT {sql_hexval8("md5('ad1:' || CAST(user_id AS VARCHAR))")} AS hv
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    ranked AS (
      SELECT (CAST(hv AS DOUBLE) + 0.5) / 4294967296.0 AS u,
             CAST(ROW_NUMBER() OVER (ORDER BY hv) AS BIGINT) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM hashed
    ),
    terms AS (
      SELECT MAX(n) AS n,
             CAST(SUM(CAST((2 * i - 1) * ln(u)
                           + (2 * (n - i) + 1) * ln(1.0 - u)
                           AS DECIMAL(38,15))) AS DOUBLE) AS t
      FROM ranked
    )
    SELECT n AS n_users,
           round(-CAST(n AS DOUBLE) - t / n, 6) AS a2_stat,
           CASE WHEN -CAST(n AS DOUBLE) - t / n > 2.492
                THEN 'nonuniform' ELSE 'uniform' END AS verdict
    FROM terms
    """,
)
def q_ad_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling uniformity test of the user-hash space:
    A² = −n − (1/n)·Σ[(2i−1)ln u_(i) + (2(n−i)+1)ln(1−u_(i))] over the
    order statistics of the md5-derived fractions (midpoint-shifted to
    (0,1) so the logs are finite), against the 5% critical value 2.492.
    Completes the uniformity triptych: q_chi2_hash_uniformity bins, KS
    takes the sup-norm, AD weights the tails — exactly where a biased
    hash ruins salting and stratified sampling.

    Determinism: hash fractions are exact rationals; ranks are exact;
    each order-statistic term is cast DECIMAL(38,15) before summing.

    Scale: distinct users → hash → one global sort for ranks (at real
    scale the same statistic runs on a fixed-size uniform sample — AD's
    power is n-independent past ~10⁵) → 1-row reduce. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    hashed = ev.select("user_id").distinct().select(
        hexval8(
            F.md5(F.concat(F.lit("ad1:"), F.col("user_id").cast("string")))
        ).alias("hv")
    )
    # r7 (guide §2.5): distributed rank over the data-scaled distinct-user
    # hash stream (distrib.two_level_order) instead of single-task
    # windows; hv ties share u and the Σ terms are linear in i over the
    # tie group's contiguous rank set, so the sum is tie-invariant.
    ranked = two_level_order(
        hashed.select(
            "hv",
            ((F.col("hv").cast("double") + 0.5) / F.lit(4294967296.0)).alias("u"),
        ),
        ["hv"],
        rank_col="i",
        total_count="n",
        project=["u"],
    )
    term = (2 * F.col("i") - 1) * F.log("u") + (
        2 * (F.col("n") - F.col("i")) + 1
    ) * F.log(F.lit(1.0) - F.col("u"))
    t = ranked.agg(
        F.max("n").alias("n"),
        F.sum(term.cast(D15)).cast("double").alias("t"),
    )
    a2 = -F.col("n").cast("double") - F.col("t") / F.col("n")
    return t.select(
        F.col("n").alias("n_users"),
        F.round(a2, 6).alias("a2_stat"),
        F.when(a2 > 2.492, "nonuniform").otherwise("uniform").alias("verdict"),
    )
