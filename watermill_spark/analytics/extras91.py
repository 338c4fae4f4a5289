"""Analytics batch 99: sample entropy (SampEn) of the daily revenue
series, the Cochrane-Orcutt AR(1)-corrected trend regression, and the
Haar wavelet energy spectrum.

SampEn is the physiology-grade regularity statistic (−ln of the
conditional repeat probability of templates); Cochrane-Orcutt fixes the
serially-correlated-error bias that makes naive OLS trend t-stats
overconfident (the companion to q_durbin_watson, which only detects
it); the Haar spectrum is the multiresolution complement to the Fourier
periodogram — energy by dyadic scale, localized in time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register

_DAILY = """
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    # checkpointed once (r6): every consumer (sample_entropy's template
    # join, cochrane_orcutt's OLS→rho→GLS chain, haar_energy's level
    # pairs) re-referenced the day series 4-5 times, re-deriving the fact
    # rollup each time; the calendar-bounded day grid materializes once
    return orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).cast("double").alias("y")
    ).localCheckpoint(eager=True)


@register(
    "q_sample_entropy",
    oracle=_DAILY
    + """,
    g AS (
      SELECT y AS x, lead(y, 1) OVER (ORDER BY day) AS x1,
             row_number() OVER (ORDER BY day) AS i
      FROM d
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(CAST(y AS DECIMAL(38,6))) AS sx,
             SUM(CAST(y * y AS DECIMAL(38,6))) AS sx2
      FROM d
    ),
    r AS (
      SELECT n_days,
             0.2 * sqrt((CAST(n_days AS DOUBLE) * CAST(sx2 AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(n_days AS DOUBLE) * (n_days - 1))) AS tol
      FROM s
    ),
    pairs AS (
      SELECT CAST(COUNT(*) FILTER (
               WHERE abs(a.x - b.x) < r.tol) AS BIGINT) AS b_cnt,
             CAST(COUNT(*) FILTER (
               WHERE abs(a.x - b.x) < r.tol
                 AND abs(a.x1 - b.x1) < r.tol) AS BIGINT) AS a_cnt
      FROM g a, g b, r
      WHERE a.i < b.i AND a.x1 IS NOT NULL AND b.x1 IS NOT NULL
    )
    SELECT r.n_days, round(r.tol, 6) AS tol, pairs.b_cnt, pairs.a_cnt,
           round(-ln(CAST(pairs.a_cnt AS DOUBLE) / pairs.b_cnt), 6)
             AS sampen
    FROM pairs, r
    """,
)
def q_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=1, r=0.2σ) of daily order revenue: of all
    value pairs within tolerance r (count B), what fraction still match
    one step later (count A) — SampEn = −ln(A/B), the self-match-free
    regularity statistic (Richman & Moorman 2000) that reads ≈0 for
    periodic series and grows toward ln B for white noise. Complements
    the ordinal q_permutation_entropy with an amplitude-aware view.

    Match counts are integers, so cross-engine equality only needs the
    tolerance double to be bit-identical — it is, because both engines
    derive it from the same decimal-exact variance moments with the same
    IEEE ops (no boundary value can differ).

    Scale: fact → |days| grid first; the all-pairs template match is a
    deliberate non-equi self-join of the ~2.4k-row *grid* (~3M cheap
    comparisons, SF-invariant — calendar-bounded, never fact-sized), the
    same whitelisted-BNLJ stance as q_theil_sen_trend; the 1-row
    tolerance row rides the same broadcast. §2.B [NS].
    """
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    g = d.select(
        F.col("y").alias("x"),
        F.lead("y", 1).over(w).alias("x1"),
        F.row_number().over(w).alias("i"),
    )
    s = d.agg(
        bcount("n_days"),
        F.sum(F.col("y").cast("decimal(38,6)")).alias("sx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)")).alias("sx2"),
    )
    nd = F.col("n_days").cast("double")
    r = s.select(
        "n_days",
        (
            0.2
            * F.sqrt(
                (
                    nd * F.col("sx2").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                / (nd * (F.col("n_days") - 1))
            )
        ).alias("tol"),
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(b, F.col("a.i") < F.col("b.i"))
        .filter(F.col("a.x1").isNotNull() & F.col("b.x1").isNotNull())
        .crossJoin(F.broadcast(r))
        .agg(
            F.count_if(
                F.abs(F.col("a.x") - F.col("b.x")) < F.col("tol")
            )
            .cast("bigint")
            .alias("b_cnt"),
            F.count_if(
                (F.abs(F.col("a.x") - F.col("b.x")) < F.col("tol"))
                & (F.abs(F.col("a.x1") - F.col("b.x1")) < F.col("tol"))
            )
            .cast("bigint")
            .alias("a_cnt"),
        )
    )
    return pairs.crossJoin(r).select(
        "n_days",
        F.round("tol", 6).alias("tol"),
        "b_cnt",
        "a_cnt",
        F.round(
            -F.log(F.col("a_cnt").cast("double") / F.col("b_cnt")), 6
        ).alias("sampen"),
    )


@register(
    "q_cochrane_orcutt",
    oracle=_DAILY
    + """,
    g AS (
      SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      FROM d
    ),
    m1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(t * t) AS BIGINT) AS st2,
             SUM(CAST(y AS DECIMAL(38,6))) AS sy,
             SUM(CAST(t * y AS DECIMAL(38,6))) AS sty
      FROM g
    ),
    ols AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b1,
             (CAST(sy AS DOUBLE) - CAST(st AS DOUBLE)
              * ((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))))
             / CAST(n AS DOUBLE) AS a1
      FROM m1
    ),
    e AS (
      SELECT g.t, g.y - ols.a1 - ols.b1 * g.t AS e,
             lag(g.y - ols.a1 - ols.b1 * g.t) OVER (ORDER BY g.t) AS el,
             lag(g.y) OVER (ORDER BY g.t) AS yl,
             ols.a1, ols.b1, ols.n
      FROM g, ols
    ),
    rho AS (
      SELECT MAX(n) AS n, MAX(a1) AS a1, MAX(b1) AS b1,
             CAST(SUM(CAST(e * el AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(el * el AS DECIMAL(38,6))) AS DOUBLE) AS rho
      FROM e WHERE el IS NOT NULL
    ),
    tr AS (
      SELECT e.y_star, e.t_star FROM (
        SELECT g.y - rho.rho * lag(g.y) OVER (ORDER BY g.t) AS y_star,
               CAST(g.t AS DOUBLE)
                 - rho.rho * (g.t - 1) AS t_star
        FROM g, rho
      ) e WHERE e.y_star IS NOT NULL
    ),
    m2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n2,
             SUM(CAST(t_star AS DECIMAL(38,6))) AS st,
             SUM(CAST(t_star * t_star AS DECIMAL(38,6))) AS st2,
             SUM(CAST(y_star AS DECIMAL(38,6))) AS sy,
             SUM(CAST(t_star * y_star AS DECIMAL(38,6))) AS sty
      FROM tr
    )
    SELECT rho.n, round(rho.rho, 6) AS rho, round(rho.b1, 6) AS b_ols,
           round((CAST(n2 AS DOUBLE) * CAST(sty AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n2 AS DOUBLE) * CAST(st2 AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6)
             AS b_gls
    FROM m2, rho
    """,
)
def q_cochrane_orcutt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochrane-Orcutt AR(1)-corrected trend of daily revenue: fit OLS
    y = a + b·t, estimate the residual autocorrelation ρ = Σe_t·e_{t−1}
    / Σe²_{t−1}, quasi-difference (y*_t = y_t − ρ·y_{t−1},
    t* = t − ρ(t−1)) and refit — the feasible-GLS slope whose standard
    error is honest when q_durbin_watson flags serial correlation. The
    reported b_ols vs b_gls gap shows how much the naive trend moves
    once the AR(1) error is modeled.

    Each stage's moments are decimal-exact; residuals are identical
    doubles on both engines (same decimal-derived a, b, same IEEE ops),
    so their decimal-cast products agree bit-for-bit.

    Scale: fact → |days| grid; three window/aggregate passes over the
    grid, each 1-row coefficient set broadcast back (whitelisted BNLJ).
    §2.B [NS].
    """
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    g = d.select("y", F.row_number().over(w).cast("bigint").alias("t"))
    d38 = "decimal(38,6)"
    m1 = g.agg(
        bcount("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("st2"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("t") * F.col("y")).cast(d38)).alias("sty"),
    )
    nd = F.col("n").cast("double")
    std, st2d = F.col("st").cast("double"), F.col("st2").cast("double")
    syd, styd = F.col("sy").cast("double"), F.col("sty").cast("double")
    b1 = (nd * styd - std * syd) / (nd * st2d - std * std)
    ols = m1.select("n", b1.alias("b1"), ((syd - std * b1) / nd).alias("a1"))
    wt = Window.orderBy("t")
    e0 = F.col("y") - F.col("a1") - F.col("b1") * F.col("t")
    e = g.crossJoin(F.broadcast(ols)).select(
        "t", "y", "a1", "b1", "n", e0.alias("e"), F.lag(e0).over(wt).alias("el")
    )
    rho = e.filter(F.col("el").isNotNull()).agg(
        F.max("n").alias("n"),
        F.max("a1").alias("a1"),
        F.max("b1").alias("b1"),
        (
            F.sum((F.col("e") * F.col("el")).cast(d38)).cast("double")
            / F.sum((F.col("el") * F.col("el")).cast(d38)).cast("double")
        ).alias("rho"),
    )
    tr = (
        g.crossJoin(F.broadcast(rho))
        .select(
            (F.col("y") - F.col("rho") * F.lag("y").over(wt)).alias("y_star"),
            (F.col("t").cast("double") - F.col("rho") * (F.col("t") - 1)).alias(
                "t_star"
            ),
        )
        .filter(F.col("y_star").isNotNull())
    )
    m2 = tr.agg(
        bcount("n2"),
        F.sum(F.col("t_star").cast(d38)).alias("st"),
        F.sum((F.col("t_star") * F.col("t_star")).cast(d38)).alias("st2"),
        F.sum(F.col("y_star").cast(d38)).alias("sy"),
        F.sum((F.col("t_star") * F.col("y_star")).cast(d38)).alias("sty"),
    )
    n2d = F.col("n2").cast("double")
    b2 = (n2d * F.col("sty").cast("double") - F.col("st").cast("double") * F.col("sy").cast("double")) / (
        n2d * F.col("st2").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
    )
    return m2.crossJoin(rho).select(
        F.col("n").cast("bigint").alias("n"),
        F.round("rho", 6).alias("rho"),
        F.round("b1", 6).alias("b_ols"),
        F.round(b2, 6).alias("b_gls"),
    )


@register(
    "q_haar_energy",
    oracle=_DAILY
    + """,
    g AS (
      SELECT y, CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS k
      FROM d
    ),
    lv AS (
      SELECT lvl, k // (2 * half) AS j,
             (k // half) % 2 AS side, y
      FROM g, (SELECT unnest([1, 2, 3, 4, 5]) AS lvl,
                      unnest([1, 2, 4, 8, 16]) AS half) sp
    ),
    blocks AS (
      SELECT lvl, j,
             SUM(CAST(y AS DECIMAL(38,6))) FILTER (WHERE side = 0) AS s0,
             SUM(CAST(y AS DECIMAL(38,6))) FILTER (WHERE side = 1) AS s1,
             CAST(COUNT(*) FILTER (WHERE side = 0) AS BIGINT) AS c0,
             CAST(COUNT(*) FILTER (WHERE side = 1) AS BIGINT) AS c1
      FROM lv GROUP BY 1, 2
    ),
    coef AS (
      SELECT lvl, j,
             (CAST(s0 AS DOUBLE) - CAST(s1 AS DOUBLE)) / (2 * c0) AS dcoef
      FROM blocks WHERE c0 = c1
    ),
    en AS (
      SELECT CAST(lvl AS BIGINT) AS level,
             CAST(COUNT(*) AS BIGINT) AS n_coefs,
             CAST(SUM(CAST(dcoef * dcoef AS DECIMAL(38,6))) AS DOUBLE)
               AS energy
      FROM coef GROUP BY 1
    ),
    tot AS (SELECT SUM(CAST(energy AS DECIMAL(38,6))) AS te FROM en)
    SELECT en.level, en.n_coefs,
           round(en.energy / 1e9, 6) AS energy_1e9,
           round(en.energy / CAST(tot.te AS DOUBLE), 6) AS energy_share
    FROM en, tot
    """,
)
def q_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy spectrum of daily revenue: at each dyadic
    level ℓ = 1..5 (pair, 4-day, … 32-day blocks) the detail
    coefficient is half the difference of adjacent block means; the
    per-level energy Σd² localizes variance by scale — a weekly cycle
    concentrates energy at levels 2-3 where the Fourier periodogram
    (q_dft_periodogram) smears it over harmonics. Trailing incomplete
    blocks are dropped (cnt equality guard), so every coefficient is a
    complete dyad.

    Block sums are decimal-exact; coefficients are identical doubles on
    both engines; d² rides DECIMAL(38,6). Energies use the 1e9-unit
    rule (huge-decimal→double casts differ by 1 ulp across engines).

    Scale: fact → |days| grid; the 5-level expansion multiplies grid
    rows (≤12k rows total), one hash-agg per (level, block) with the two
    sides pivoted as conditional sums (no block self-join), and a 1-row
    total-energy broadcast onto the 5 level rows (whitelisted BNLJ).
    §2.B [NS].
    """
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    g = d.select(
        "y", (F.row_number().over(w) - 1).cast("bigint").alias("k")
    )
    spine = spark.createDataFrame(
        [(lvl, 1 << (lvl - 1)) for lvl in range(1, 6)], "lvl INT, half INT"
    )
    lv = g.crossJoin(F.broadcast(spine)).select(
        "lvl",
        (F.col("k") / (2 * F.col("half"))).cast("bigint").alias("j"),
        ((F.col("k") / F.col("half")).cast("bigint") % 2).alias("side"),
        "y",
    )
    ydec = F.col("y").cast("decimal(38,6)")
    s0f = F.col("side") == 0
    s1f = F.col("side") == 1
    blocks = lv.groupBy("lvl", "j").agg(
        F.sum(F.when(s0f, ydec)).alias("s0"),
        F.sum(F.when(s1f, ydec)).alias("s1"),
        F.count_if(s0f).cast("bigint").alias("c0"),
        F.count_if(s1f).cast("bigint").alias("c1"),
    )
    coef = blocks.filter(F.col("c0") == F.col("c1")).select(
        "lvl",
        (
            (F.col("s0").cast("double") - F.col("s1").cast("double"))
            / (2 * F.col("c0"))
        ).alias("dcoef"),
    )
    en = coef.groupBy(F.col("lvl").cast("bigint").alias("level")).agg(
        bcount("n_coefs"),
        F.sum((F.col("dcoef") * F.col("dcoef")).cast("decimal(38,6)"))
        .cast("double")
        .alias("energy"),
    )
    tot = en.agg(F.sum(F.col("energy").cast("decimal(38,6)")).alias("te"))
    return en.crossJoin(F.broadcast(tot)).select(
        "level",
        "n_coefs",
        F.round(F.col("energy") / F.lit(1e9), 6).alias("energy_1e9"),
        F.round(F.col("energy") / F.col("te").cast("double"), 6).alias(
            "energy_share"
        ),
    )
