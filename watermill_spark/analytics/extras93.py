"""Analytics batch 101: Colley-matrix ranking of nations from bilateral
trade "matches", Deming (errors-in-variables) regression, and the
Nadaraya-Watson kernel smoother on a fixed evaluation grid.

Colley's method (the BCS football ranking) solves (2+n_i)r_i = 1 +
(w_i−l_i)/2 + Σ_opp r_j — a Laplacian-like linear system we Jacobi-
iterate three rounds, exactly like the other iterative graph queries
(q_pagerank_nations, q_hits_hubs_authorities). Deming regression is the
λ=1 total-least-squares slope — the right fit when BOTH axes are noisy,
where OLS attenuates. Nadaraya-Watson is the classic nonparametric
conditional-mean estimate ŷ(g) = ΣK_h(x−g)y / ΣK_h(x−g), evaluated at
fixed grid points so the whole smoother is one map-side pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register

_SQL_FLOWS = """
    flows AS (
      SELECT s.s_nationkey AS i, c.c_nationkey AS j,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS f
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ),
    games AS (
      SELECT LEAST(i, j) AS a, GREATEST(i, j) AS b,
             CASE WHEN COALESCE(SUM(CASE WHEN i < j THEN f END), 0)
                       >= COALESCE(SUM(CASE WHEN i > j THEN f END), 0)
                  THEN LEAST(i, j) ELSE GREATEST(i, j) END AS winner
      FROM flows GROUP BY LEAST(i, j), GREATEST(i, j)
    ),
    sides AS (
      SELECT a AS nk, b AS opp,
             CASE WHEN winner = a THEN 1 ELSE 0 END AS win
      FROM games
      UNION ALL
      SELECT b, a, CASE WHEN winner = b THEN 1 ELSE 0 END
      FROM games
    ),
    rec AS (
      SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_games,
             CAST(SUM(win) AS BIGINT) AS wins
      FROM sides GROUP BY 1
    )
"""


@register(
    "q_colley_ranking",
    oracle=f"""
    WITH {_SQL_FLOWS},
    r0 AS (SELECT nk, 0.5 AS r FROM rec),
    r1 AS (
      SELECT rec.nk,
             (1.0 + (rec.wins - (rec.n_games - rec.wins)) / 2.0
              + CAST(SUM(CAST(p.r AS DECIMAL(28,15))) AS DOUBLE))
             / (2 + rec.n_games) AS r
      FROM rec JOIN sides s ON rec.nk = s.nk
      JOIN r0 p ON s.opp = p.nk
      GROUP BY rec.nk, rec.wins, rec.n_games
    ),
    r2 AS (
      SELECT rec.nk,
             (1.0 + (rec.wins - (rec.n_games - rec.wins)) / 2.0
              + CAST(SUM(CAST(p.r AS DECIMAL(28,15))) AS DOUBLE))
             / (2 + rec.n_games) AS r
      FROM rec JOIN sides s ON rec.nk = s.nk
      JOIN r1 p ON s.opp = p.nk
      GROUP BY rec.nk, rec.wins, rec.n_games
    ),
    r3 AS (
      SELECT rec.nk,
             (1.0 + (rec.wins - (rec.n_games - rec.wins)) / 2.0
              + CAST(SUM(CAST(p.r AS DECIMAL(28,15))) AS DOUBLE))
             / (2 + rec.n_games) AS r
      FROM rec JOIN sides s ON rec.nk = s.nk
      JOIN r2 p ON s.opp = p.nk
      GROUP BY rec.nk, rec.wins, rec.n_games
    )
    SELECT n.n_name AS nation, rec.n_games, rec.wins,
           CAST(rec.n_games - rec.wins AS BIGINT) AS losses,
           round(r3.r, 6) AS colley_rating
    FROM r3 JOIN rec ON r3.nk = rec.nk
    JOIN nation n ON r3.nk = n.n_nationkey
    ORDER BY colley_rating DESC, nation
    """,
)
def q_colley_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Colley-matrix rating of nations: every nation pair with trade in
    either direction plays one "match" (larger bilateral export flow
    wins, flow ties to the lower key — decimal-exact flows make the
    winner deterministic), then three Jacobi sweeps of Colley's system
    (2+n_i)r_i = 1 + (w_i−l_i)/2 + Σ_opp r_j turn win-loss records into
    strength-of-schedule-adjusted ratings — the BCS method, which unlike
    raw win share rewards beating highly-rated opponents.

    Ratings are doubles derived from integer records through identical
    IEEE ops each sweep, so they match bit-for-bit before rounding.

    Scale: the 4-table trade-star build shares q_pagerank_nations'
    whitelisted SMJ stance (fact tables joined on their clustered keys);
    afterwards everything lives on the ≤|nations|² match list with the
    ≤|nations|-row rating vector broadcast per sweep — iteration depth
    fixed at 3, no fact re-scan. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    flows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j")
        )
        .agg(F.sum(dec("l_extendedprice")).alias("f"))
    )
    a, b = F.least("i", "j"), F.greatest("i", "j")
    fwd = F.sum(F.when(F.col("i") < F.col("j"), F.col("f")))
    rev = F.sum(F.when(F.col("i") > F.col("j"), F.col("f")))
    zero = F.lit(0).cast("decimal(18,6)")
    games = flows.groupBy(a.alias("a"), b.alias("b")).agg(
        F.when(
            F.coalesce(fwd, zero) >= F.coalesce(rev, zero), F.min(F.least("i", "j"))
        )
        .otherwise(F.min(F.greatest("i", "j")))
        .alias("winner")
    )
    sides = games.select(
        F.col("a").alias("nk"),
        F.col("b").alias("opp"),
        F.when(F.col("winner") == F.col("a"), 1).otherwise(0).alias("win"),
    ).unionAll(
        games.select(
            F.col("b").alias("nk"),
            F.col("a").alias("opp"),
            F.when(F.col("winner") == F.col("b"), 1).otherwise(0).alias("win"),
        )
    )
    # checkpointed once (r6): the nation-pair grain feeds rec, the seed
    # vector, and every unrolled iteration — each reference re-derived
    # the 4-table fact join (16 scans of each fact table in the plan)
    sides = sides.localCheckpoint(eager=True)
    rec = sides.groupBy("nk").agg(
        bcount("n_games"), F.sum("win").cast("bigint").alias("wins")
    )
    r = rec.select("nk", F.lit(0.5).alias("r"))
    base = rec.join(sides, "nk").select(
        "nk", "opp", "wins", "n_games"
    ).localCheckpoint(eager=True)
    for _ in range(3):
        r = (
            base.join(
                F.broadcast(r.select(F.col("nk").alias("opp"), F.col("r").alias("pr"))),
                "opp",
            )
            .groupBy("nk", "wins", "n_games")
            .agg(F.sum(F.col("pr").cast("decimal(28,15)")).cast("double").alias("sr"))
            .select(
                "nk",
                (
                    (
                        1.0
                        + (F.col("wins") - (F.col("n_games") - F.col("wins"))) / 2.0
                        + F.col("sr")
                    )
                    / (2 + F.col("n_games"))
                ).alias("r"),
            )
        )
    nation = load(spark, sf_dir, "nation")
    return (
        r.join(rec, "nk")
        .join(F.broadcast(nation), r.nk == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "n_games",
            "wins",
            (F.col("n_games") - F.col("wins")).cast("bigint").alias("losses"),
            F.round("r", 6).alias("colley_rating"),
        )
        .orderBy(F.desc("colley_rating"), "nation")
    )


@register(
    "q_deming_regression",
    oracle="""
    WITH d AS (
      SELECT l_shipdate AS day,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
      FROM lineitem GROUP BY 1
    ),
    g AS (
      SELECT CAST(qty AS DOUBLE) / 1e3 AS x,
             CAST(rev AS DOUBLE) / 1e6 AS y
      FROM d
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(38,12))) AS sx,
             SUM(CAST(y AS DECIMAL(38,12))) AS sy,
             SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(y * y AS DECIMAL(38,12))) AS syy,
             SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy
      FROM g
    ),
    c AS (
      SELECT n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
             CAST(sx AS DOUBLE) / n AS xbar,
             CAST(sy AS DOUBLE) / n AS ybar
      FROM m
    )
    SELECT n AS n_days,
           round((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                   + 4 * cxy * cxy)) / (2 * cxy), 6)
             AS slope_deming,
           round(cxy / cxx, 6) AS slope_ols,
           round(ybar - ((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                           + 4 * cxy * cxy)) / (2 * cxy))
                        * xbar, 6) AS intercept_deming
    FROM c
    """,
)
def q_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (λ=1 errors-in-variables) regression of daily revenue on
    daily shipped quantity, both in measurement-noise units (k-units and
    $M): slope = (S_yy − S_xx + √((S_yy−S_xx)² + 4S_xy²)) / 2S_xy — the
    total-least-squares line that treats BOTH axes as noisy, reported
    against the plain OLS slope it corrects (OLS attenuates toward zero
    when x carries error; the Deming/OLS gap measures that attenuation).

    One pass of decimal-exact moments; the closed form is a fixed double
    expression. Scale: fact → |days| grid via one map-side-combined
    aggregation; the rest is a 1-row computation. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    d = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        F.sum(dec("l_quantity")).alias("qty"),
        F.sum(dec("l_extendedprice")).alias("rev"),
    )
    g = d.select(
        (F.col("qty").cast("double") / F.lit(1e3)).alias("x"),
        (F.col("rev").cast("double") / F.lit(1e6)).alias("y"),
    )
    d12 = "decimal(38,12)"
    m = g.agg(
        bcount("n"),
        F.sum(F.col("x").cast(d12)).alias("sx"),
        F.sum(F.col("y").cast(d12)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d12)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d12)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(d12)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cxx = nd * F.col("sxx").cast("double") - sx * sx
    cyy = nd * F.col("syy").cast("double") - sy * sy
    cxy = nd * F.col("sxy").cast("double") - sx * sy
    slope = (cyy - cxx + F.sqrt((cyy - cxx) * (cyy - cxx) + 4 * cxy * cxy)) / (
        2 * cxy
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope_deming"),
        F.round(cxy / cxx, 6).alias("slope_ols"),
        F.round(sy / nd - slope * (sx / nd), 6).alias("intercept_deming"),
    )


_NW_BW = 1000.0
_NW_GRID = [float(-1000 + 500 * i) for i in range(23)]


@register(
    "q_kernel_regression_nw",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS y
      FROM orders GROUP BY 1
    ),
    cust AS (
      SELECT c_acctbal AS x, CAST(COALESCE(s.y, 0) AS DOUBLE) AS y
      FROM customer LEFT JOIN spend s ON c_custkey = s.o_custkey
    ),
    grid AS (SELECT CAST(unnest(ARRAY{_NW_GRID}) AS DOUBLE) AS g),
    k AS (
      SELECT grid.g,
             CAST(SUM(CAST(exp(-0.5 * ((x - grid.g) / {_NW_BW})
                                * ((x - grid.g) / {_NW_BW}))
                      AS DECIMAL(38,12))) AS DOUBLE) AS sk,
             CAST(SUM(CAST(exp(-0.5 * ((x - grid.g) / {_NW_BW})
                                * ((x - grid.g) / {_NW_BW})) * y
                      AS DECIMAL(38,12))) AS DOUBLE) AS sky
      FROM cust, grid GROUP BY 1
    )
    SELECT g AS acctbal_grid,
           round(sk, 6) AS kernel_mass,
           round(sky / sk, 6) AS yhat
    FROM k
    ORDER BY acctbal_grid
    """,
)
def q_kernel_regression_nw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nadaraya-Watson kernel regression of customer lifetime spend on
    account balance, evaluated on a fixed 23-point balance grid with a
    Gaussian kernel (bandwidth 1000): ŷ(g) = Σ K((x−g)/h)·y / Σ K —
    the nonparametric conditional-mean curve that shows the
    spend-balance relationship without asserting a functional form
    (the smoother behind every "spend vs. balance" dashboard curve).

    Kernel weights are exp() of identical double arguments on both
    engines; each K and K·y term is cast DECIMAL(38,12) per row before
    summation (the transcendental-product stance of
    q_dft_periodogram/q_gaussian_kde), and outputs round well inside
    the ulp margin.

    Scale: the fixed grid is a 23-row broadcast fanned across customers
    — one map-side-combined aggregation, no shuffle growth with fact
    size (whitelisted BNLJ for the broadcast spine). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(F.sum(dec("o_totalprice")).alias("sy"))
    c = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        F.col("c_acctbal").alias("x"),
        F.coalesce(F.col("sy"), F.lit(0)).cast("double").alias("y"),
    )
    grid = spark.createDataFrame([(g,) for g in _NW_GRID], "g double")
    z = (F.col("x") - F.col("g")) / F.lit(_NW_BW)
    kern = F.exp(-0.5 * z * z)
    d12 = "decimal(38,12)"
    k = (
        c.crossJoin(F.broadcast(grid))
        .groupBy("g")
        .agg(
            F.sum(kern.cast(d12)).cast("double").alias("sk"),
            F.sum((kern * F.col("y")).cast(d12)).cast("double").alias("sky"),
        )
    )
    return k.select(
        F.col("g").alias("acctbal_grid"),
        F.round("sk", 6).alias("kernel_mass"),
        F.round(F.col("sky") / F.col("sk"), 6).alias("yhat"),
    ).orderBy("acctbal_grid")
