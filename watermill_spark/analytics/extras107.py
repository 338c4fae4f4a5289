"""Analytics batch 115: Fisher's exact test, the Shapiro–Francia
normality test (with a cross-engine inverse-normal), and isotonic
regression via the minimax closed form.

Fisher's exact test is the 2×2 inference that stays valid when χ²'s
large-sample approximation doesn't (sparse cells): enumerate the
hypergeometric distribution of the observed margin and sum the tail.
Shapiro–Francia is the correlation-with-normal-scores normality test —
the simpler, large-n-consistent cousin of Shapiro–Wilk — driven here by
Acklam's rational approximation of Φ⁻¹ (a fixed double polynomial both
engines evaluate identically). Isotonic regression uses the classical
minimax representation fit_i = max_{j≤i} min_{k≥j} mean(y[j..k]) —
equivalent to PAVA but expressible as pure grid algebra, no sequential
pooling loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register

# Acklam's inverse-normal-CDF rational approximation (public domain
# algorithm; |relative error| < 1.15e-9). Fixed double coefficients —
# both engines parse identical literals and run the identical polynomial.
_ACK_A = (-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
          1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
_ACK_B = (-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
          6.680131188771972e+01, -1.328068155288572e+01)
_ACK_C = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
          -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
_ACK_D = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
          3.754408661907416e+00)
_ACK_PLOW = 0.02425


def _horner_sql(coeffs, var: str) -> str:
    expr = repr(coeffs[0])
    for c in coeffs[1:]:
        expr = f"({expr} * {var} + {repr(c)})"
    return expr


def _horner_col(coeffs, var: Column) -> Column:
    expr = F.lit(coeffs[0])
    for c in coeffs[1:]:
        expr = expr * var + F.lit(c)
    return expr


def phi_inv_sql(p: str) -> str:
    """Φ⁻¹(p) as a DuckDB SQL expression (Acklam)."""
    ql = f"sqrt(-2.0 * ln({p}))"
    qh = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    qc = f"(({p}) - 0.5)"
    rc = f"({qc} * {qc})"
    central = (
        f"({_horner_sql(_ACK_A, rc)} * {qc})"
        f" / ({_horner_sql(_ACK_B, rc)} * {rc} + 1.0)"
    )
    low = f"({_horner_sql(_ACK_C, ql)}) / ({_horner_sql(_ACK_D, ql)} * {ql} + 1.0)"
    high = f"-(({_horner_sql(_ACK_C, qh)}) / ({_horner_sql(_ACK_D, qh)} * {qh} + 1.0))"
    return (
        f"CASE WHEN ({p}) < {_ACK_PLOW} THEN {low} "
        f"WHEN ({p}) > {1.0 - _ACK_PLOW!r} THEN {high} "
        f"ELSE {central} END"
    )


def phi_inv_col(p: Column) -> Column:
    """Φ⁻¹(p) as a Spark Column (same Acklam path as phi_inv_sql)."""
    ql = F.sqrt(-2.0 * F.log(p))
    qh = F.sqrt(-2.0 * F.log(1.0 - p))
    qc = p - 0.5
    rc = qc * qc
    central = (_horner_col(_ACK_A, rc) * qc) / (_horner_col(_ACK_B, rc) * rc + 1.0)
    low = _horner_col(_ACK_C, ql) / (_horner_col(_ACK_D, ql) * ql + 1.0)
    high = -(_horner_col(_ACK_C, qh) / (_horner_col(_ACK_D, qh) * qh + 1.0))
    return (
        F.when(p < _ACK_PLOW, low)
        .when(p > 1.0 - _ACK_PLOW, high)
        .otherwise(central)
    )


@register(
    "q_fisher_exact",
    oracle="""
    WITH cells AS (
      SELECT CAST(SUM(CASE WHEN isodow(ts) IN (6,7) AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN isodow(ts) IN (6,7) THEN 1 ELSE 0 END)
                  AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
    ),
    nums AS MATERIALIZED (
      SELECT CAST(row_number() OVER () - 1 AS BIGINT) AS g FROM events
      UNION ALL SELECT n FROM cells
    ),
    lf AS MATERIALIZED (
      SELECT g AS i,
             CAST(SUM(CAST(CASE WHEN g > 0 THEN ln(CAST(g AS DOUBLE))
                                ELSE 0.0 END AS DECIMAL(38,15))) OVER (
               ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS v
      FROM nums
    ),
    pmf AS MATERIALIZED (
      SELECT k.g AS k,
             exp(l1.v + l2.v + l3.v + l4.v
                 - l5.v - l6.v - l7.v - l8.v - l9.v) AS p
      FROM cells c
      JOIN nums k
        ON k.g <= LEAST(c.r1, c.c1)
       AND k.g >= GREATEST(0, c.r1 + c.c1 - c.n)
      JOIN lf l1 ON l1.i = c.r1
      JOIN lf l2 ON l2.i = c.n - c.r1
      JOIN lf l3 ON l3.i = c.c1
      JOIN lf l4 ON l4.i = c.n - c.c1
      JOIN lf l5 ON l5.i = c.n
      JOIN lf l6 ON l6.i = k.g
      JOIN lf l7 ON l7.i = c.r1 - k.g
      JOIN lf l8 ON l8.i = c.c1 - k.g
      JOIN lf l9 ON l9.i = c.n - c.r1 - c.c1 + k.g
    )
    SELECT c.a AS obs_a, c.r1 AS row1_total, c.c1 AS col1_total, c.n AS n,
           round((SELECT p FROM pmf WHERE k = c.a), 10) AS pmf_at_obs,
           round((SELECT CAST(SUM(CAST(p AS DECIMAL(38,15))) AS DOUBLE)
                  FROM pmf
                  WHERE p <= (SELECT p FROM pmf WHERE k = c.a)
                              * (1.0 + 1e-7)), 10) AS p_two_sided
    FROM cells c
    """,
)
def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test of weekend × purchase independence: the exact
    hypergeometric two-sided p-value (sum of all table probabilities no
    larger than the observed one, the standard 1+1e-7 tie tolerance).
    Log-factorials come from one cumulative-sum pass over 1..n so no
    gamma function is needed; the 2×2 margins reuse q_odds_ratio_ci's
    cells. The small-sample companion to q_chi2_type_dow /
    q_gtest_independence.

    Determinism: ln-factorial prefix sums accumulate as DECIMAL(38,15)
    (identical in both engines); each pmf is one exp() of those exact
    sums; the tail sum rides the same decimal accumulator.

    Scale: margins are one conditional-aggregation scan; the factorial
    grid is O(n) rows and the pmf support O(min(r1,c1)) — bounded by the
    margin, not the fact table; nothing here touches events twice.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    wk = F.dayofweek("ts").isin(1, 7)
    pur = F.col("event_type") == "purchase"
    cells = ev.agg(
        F.sum(F.when(wk & pur, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(wk, 1).otherwise(0)).cast("bigint").alias("r1"),
        F.sum(F.when(pur, 1).otherwise(0)).cast("bigint").alias("c1"),
        bcount("n"),
    ).localCheckpoint(eager=True)  # 1 row; keeps the grid joins below flat
    n_val = cells.head()["n"]
    wcum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    lf = (
        spark.range(0, n_val + 1)
        .select(F.col("id").alias("i"))
        .select(
            "i",
            F.sum(
                F.when(
                    F.col("i") > 0, F.log(F.col("i").cast("double"))
                ).otherwise(0.0).cast(D15)
            )
            .over(wcum)
            .cast("double")
            .alias("v"),
        )
    )

    def lfat(expr):
        return F.get(F.col("lfmap"), expr.cast("int"))  # 0-based: index i

    lfarr = lf.agg(
        F.sort_array(F.collect_list(F.struct("i", "v"))).alias("s")
    ).select(F.transform("s", lambda x: x["v"]).alias("lfmap"))
    ks = (
        spark.range(0, n_val + 1)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(cells))
        .crossJoin(F.broadcast(lfarr))
        .filter(
            (F.col("k") <= F.least("r1", "c1"))
            & (F.col("k") >= F.greatest(F.lit(0), F.col("r1") + F.col("c1") - F.col("n")))
        )
    )
    logp = (
        lfat(F.col("r1"))
        + lfat(F.col("n") - F.col("r1"))
        + lfat(F.col("c1"))
        + lfat(F.col("n") - F.col("c1"))
        - lfat(F.col("n"))
        - lfat(F.col("k"))
        - lfat(F.col("r1") - F.col("k"))
        - lfat(F.col("c1") - F.col("k"))
        - lfat(F.col("n") - F.col("r1") - F.col("c1") + F.col("k"))
    )
    pmf = ks.select("k", "a", "r1", "c1", "n", F.exp(logp).alias("p"))
    obs = pmf.filter(F.col("k") == F.col("a")).select(
        F.col("p").alias("p_obs")
    )
    return (
        pmf.crossJoin(F.broadcast(obs))
        .filter(F.col("p") <= F.col("p_obs") * (1.0 + 1e-7))
        .agg(
            F.max("a").alias("obs_a"),
            F.max("r1").alias("row1_total"),
            F.max("c1").alias("col1_total"),
            F.max("n").alias("n"),
            F.round(F.max("p_obs"), 10).alias("pmf_at_obs"),
            F.round(F.sum(F.col("p").cast(D15)).cast("double"), 10).alias(
                "p_two_sided"
            ),
        )
    )


@register(
    "q_shapiro_francia",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ordered AS (
      SELECT rev AS x,
             CAST(row_number() OVER (ORDER BY rev, d) AS DOUBLE) AS i,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n
      FROM daily
    ),
    scored AS (
      SELECT x, {phi_inv_sql('(i - 0.375) / (n + 0.25)')} AS m, n
      FROM ordered
    ),
    mom AS (
      SELECT MAX(n) AS n,
             CAST(COUNT(*) AS DOUBLE) AS k,
             CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE) AS sm,
             CAST(SUM(CAST(x * m AS DECIMAL(38,15))) AS DOUBLE) AS sxm,
             CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE) AS smm
      FROM scored
    )
    SELECT n AS n_days,
           round((k * sxm - sx * sm) * (k * sxm - sx * sm)
                 / ((k * sxx - sx * sx) * (k * smm - sm * sm)), 6)
             AS w_prime,
           round(1.0 - (k * sxm - sx * sm) * (k * sxm - sx * sm)
                 / ((k * sxx - sx * sx) * (k * smm - sm * sm)), 6)
             AS departure
    FROM mom
    """,
)
def q_shapiro_francia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapiro–Francia normality test of the daily revenue distribution:
    W' = corr(x₍ᵢ₎, m_i)² between the ordered sample and the expected
    normal scores m_i = Φ⁻¹((i−3/8)/(n+1/4)) (Blom plotting positions),
    with Φ⁻¹ evaluated by Acklam's fixed rational approximation — a pure
    double polynomial both engines execute bit-identically. W'→1 means
    consistent with normal; `departure` = 1−W' is the tail-weight /
    skewness signal. Complements q_jarque_bera (moment test) and
    q_qq_deciles (visual) with the order-statistic correlation test.

    Determinism: the order statistics use a (rev, d) total-order
    tiebreak; all correlation moments accumulate as DECIMAL(38,15);
    Φ⁻¹ is branch-for-branch identical in both engines.

    Scale: one day rollup; ranking and moments run over the bounded
    ≤|days| grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # checkpointed once (r6): the row count and the ordered scoring both
    # re-derived the rollup (2 events scans in the plan); the
    # calendar-bounded day grid materializes once
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(dec("value")).cast("double").alias("rev")
    ).localCheckpoint(eager=True)
    nrow = daily.agg(bcount("n"))
    ordered = daily.crossJoin(F.broadcast(nrow)).select(
        F.col("rev").alias("x"),
        F.row_number().over(Window.orderBy("rev", "d")).cast("double").alias("i"),
        "n",
    )
    m = phi_inv_col((F.col("i") - 0.375) / (F.col("n").cast("double") + 0.25))
    scored = ordered.select("x", m.alias("m"), "n")
    mom = scored.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("x").cast(D15)).cast("double").alias("sx"),
        F.sum(F.col("m").cast(D15)).cast("double").alias("sm"),
        F.sum((F.col("x") * F.col("m")).cast(D15)).cast("double").alias("sxm"),
        F.sum((F.col("x") * F.col("x")).cast(D15)).cast("double").alias("sxx"),
        F.sum((F.col("m") * F.col("m")).cast(D15)).cast("double").alias("smm"),
    )
    num = F.col("k") * F.col("sxm") - F.col("sx") * F.col("sm")
    den = (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("k") * F.col("smm") - F.col("sm") * F.col("sm")
    )
    w_prime = num * num / den
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(w_prime, 6).alias("w_prime"),
        F.round(F.lit(1.0) - w_prime, 6).alias("departure"),
    )


@register(
    "q_isotonic_regression",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY d) AS i, d, y,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,15)) AS pre
      FROM daily
    ),
    innermin AS MATERIALIZED (
      SELECT j.i AS j,
             MIN(CAST(k.pre - COALESCE(jp.pre, 0) AS DOUBLE) / (k.i - j.i + 1))
               AS mn
      FROM idx j
      JOIN idx k ON k.i >= j.i
      LEFT JOIN idx jp ON jp.i = j.i - 1
      GROUP BY j.i
    )
    SELECT x.d AS day, round(x.y, 6) AS y,
           round(MAX(m.mn) OVER (
             ORDER BY x.i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS iso_fit
    FROM idx x JOIN innermin m ON m.j = x.i
    ORDER BY day
    """,
)
def q_isotonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone nondecreasing) least-squares fit of the mean
    daily event value, via the minimax representation
    fit_i = max_{j≤i} min_{k≥j} mean(y[j..k]) — mathematically identical
    to the PAVA pool-adjacent-violators solution but expressed as pure
    grid algebra: prefix sums give every contiguous-range mean, a
    range join + group-by takes the inner min, a running window the
    outer max. The standard monotone-calibration primitive (probability
    calibration, dose-response, conversion-by-rank curves).

    Determinism: prefix sums are exact DECIMAL(38,15); range means
    divide in double; min/max are order-free; output keyed by day.

    Scale: the (j,k) expansion is |days|² of the BOUNDED day grid
    (SF-invariant — the fact table is rolled up first); at a 10-year
    span that is ~3.7k² ≈ 13M lightweight rows, one shuffle. For
    per-key curves the same shape partitions by key. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("y")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"),
        "d",
        "y",
        F.sum(F.col("y").cast(D15)).over(wcum).alias("pre"),
    ).localCheckpoint(eager=True)
    jside = idx.select(
        F.col("i").alias("j"), F.col("pre").alias("jpre")
    ).join(
        idx.select(F.col("i").alias("jm"), F.col("pre").alias("prevpre")),
        F.col("jm") == F.col("j") - 1,
        "left",
    ).select("j", F.coalesce(F.col("prevpre"), F.lit(0).cast(D15)).alias("p0"))
    innermin = (
        jside.join(
            idx.select(F.col("i").alias("k"), F.col("pre").alias("kpre")),
            F.col("k") >= F.col("j"),
        )
        .groupBy("j")
        .agg(
            F.min(
                (F.col("kpre") - F.col("p0")).cast("double")
                / (F.col("k") - F.col("j") + 1)
            ).alias("mn")
        )
    )
    wrun = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    return (
        idx.join(innermin, F.col("j") == F.col("i"))
        .select(
            F.col("d").alias("day"),
            F.round("y", 6).alias("y"),
            F.round(F.max("mn").over(wrun), 6).alias("iso_fit"),
        )
        .orderBy("day")
    )
