"""Analytics batch 103: inverse-propensity-weighted treatment effect,
Moran's I / Geary's C spatial autocorrelation over the nation-region
map, and Copeland pairwise-majority ranking of brands.

IPW is the other half of the observational-causal toolkit next to
q_caliper_matching: reweight by 1/p̂(treated|x) so the treated and
control covariate distributions align, then difference the weighted
means (Horvitz-Thompson). Moran's I and Geary's C are the two canonical
spatial-autocorrelation statistics — do neighboring (same-region)
nations move together? Copeland's method ranks by pairwise-majority
wins minus losses, the Condorcet-consistent voting rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec
from .distrib import ntile_of, two_level_order
from .registry import load, register


@register(
    "q_ipw_ate",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS y
      FROM orders GROUP BY 1
    ),
    cust AS (
      SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
             CAST(COALESCE(s.y, 0) AS DOUBLE) AS y,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS bin
      FROM customer LEFT JOIN spend s ON c_custkey = s.o_custkey
    ),
    prop AS (
      SELECT bin,
             CAST(SUM(t) AS DOUBLE) / COUNT(*) AS p
      FROM cust GROUP BY 1
    ),
    wtd AS (
      SELECT c.t, c.y, p.p,
             CASE WHEN c.t = 1 THEN 1.0 / p.p
                  ELSE 1.0 / (1.0 - p.p) END AS w
      FROM cust c JOIN prop p ON c.bin = p.bin
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS n_treated,
             CAST(SUM(CAST(w * y AS DECIMAL(38,12)))
                  FILTER (WHERE t = 1) AS DOUBLE) AS swy1,
             CAST(SUM(CAST(w AS DECIMAL(38,12)))
                  FILTER (WHERE t = 1) AS DOUBLE) AS sw1,
             CAST(SUM(CAST(w * y AS DECIMAL(38,12)))
                  FILTER (WHERE t = 0) AS DOUBLE) AS swy0,
             CAST(SUM(CAST(w AS DECIMAL(38,12)))
                  FILTER (WHERE t = 0) AS DOUBLE) AS sw0,
             CAST(SUM(CAST(y AS DECIMAL(38,12)))
                  FILTER (WHERE t = 1) AS DOUBLE) AS sy1,
             CAST(SUM(CAST(y AS DECIMAL(38,12)))
                  FILTER (WHERE t = 0) AS DOUBLE) AS sy0
      FROM wtd
    )
    SELECT n, n_treated,
           round(swy1 / sw1 - swy0 / sw0, 6) AS ate_ipw,
           round(sy1 / n_treated - sy0 / (n - n_treated), 6) AS diff_naive
    FROM agg
    """,
)
def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect of BUILDING
    membership on customer lifetime spend: the propensity p̂(treated |
    balance decile) is estimated nonparametrically per decile, every
    unit is reweighted by 1/p̂ (treated) or 1/(1−p̂) (control), and the
    Horvitz-Thompson weighted means are differenced — reported against
    the naive unadjusted difference. The matching estimator
    (q_caliper_matching) answers the same question by pairing; IPW
    answers it by reweighting — agreement between the two is the
    standard robustness check.

    Deciles come from ntile over the total order (balance, custkey), so
    bins are identical across engines; weighted sums ride
    DECIMAL(38,12).

    Scale: one sort for deciling (range-partitioned at 100 TB), a tiny
    10-row propensity broadcast back, one aggregation. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(F.sum(dec("o_totalprice")).alias("sy"))
    # r7 (guide §2.5): the decile ntile ran single-task over the
    # data-scaled customer grid; it is now a pure expression of the
    # distributed exact rank and n (identical bucket boundaries).
    c = two_level_order(
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("t"),
            F.coalesce(F.col("sy"), F.lit(0)).cast("double").alias("y"),
            "c_acctbal",
            "c_custkey",
        ),
        ["c_acctbal", "c_custkey"],
        rank_col="_rk",
        total_count="_n",
        project=["t", "y"],
    ).select(
        "t", "y", ntile_of(F.col("_rk"), F.col("_n"), 10).alias("bin")
    )
    prop = c.groupBy("bin").agg(
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("p")
    )
    w = F.when(F.col("t") == 1, 1.0 / F.col("p")).otherwise(
        1.0 / (1.0 - F.col("p"))
    )
    wtd = c.join(F.broadcast(prop), "bin").select("t", "y", w.alias("w"))
    d12 = "decimal(38,12)"
    t1, t0 = F.col("t") == 1, F.col("t") == 0
    agg = wtd.agg(
        bcount("n"),
        F.sum("t").cast("bigint").alias("n_treated"),
        F.sum(F.when(t1, (F.col("w") * F.col("y")).cast(d12)))
        .cast("double")
        .alias("swy1"),
        F.sum(F.when(t1, F.col("w").cast(d12))).cast("double").alias("sw1"),
        F.sum(F.when(t0, (F.col("w") * F.col("y")).cast(d12)))
        .cast("double")
        .alias("swy0"),
        F.sum(F.when(t0, F.col("w").cast(d12))).cast("double").alias("sw0"),
        F.sum(F.when(t1, F.col("y").cast(d12))).cast("double").alias("sy1"),
        F.sum(F.when(t0, F.col("y").cast(d12))).cast("double").alias("sy0"),
    )
    return agg.select(
        "n",
        "n_treated",
        F.round(
            F.col("swy1") / F.col("sw1") - F.col("swy0") / F.col("sw0"), 6
        ).alias("ate_ipw"),
        F.round(
            F.col("sy1") / F.col("n_treated")
            - F.col("sy0") / (F.col("n") - F.col("n_treated")),
            6,
        ).alias("diff_naive"),
    )


@register(
    "q_moran_geary",
    oracle="""
    WITH natrev AS (
      SELECT c.c_nationkey AS nk,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / 1e6 AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    v AS (
      SELECT n.n_nationkey AS nk, n.n_regionkey AS rk,
             COALESCE(r.rev, 0) AS x
      FROM nation n LEFT JOIN natrev r ON n.n_nationkey = r.nk
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM v
    ),
    z AS (
      SELECT v.nk, v.rk, v.x - s.mu AS z FROM v, s
    ),
    pairs AS (
      SELECT a.z AS za, b.z AS zb
      FROM z a JOIN z b ON a.rk = b.rk AND a.nk <> b.nk
    ),
    num AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sw,
             CAST(SUM(CAST(za * zb AS DECIMAL(38,12))) AS DOUBLE) AS szz,
             CAST(SUM(CAST((za - zb) * (za - zb) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sdd
      FROM pairs
    ),
    den AS (
      SELECT CAST(SUM(CAST(z * z AS DECIMAL(38,12))) AS DOUBLE) AS sz2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM z
    )
    SELECT den.n, num.sw AS n_neighbor_pairs,
           round(CAST(den.n AS DOUBLE) / num.sw * num.szz / den.sz2, 6)
             AS morans_i,
           round(-1.0 / (den.n - 1), 6) AS expected_i,
           round((den.n - 1.0) / (2.0 * num.sw) * num.sdd / den.sz2, 6)
             AS gearys_c
    FROM num, den
    """,
)
def q_moran_geary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I and Geary's C spatial autocorrelation of national
    customer revenue under same-region contiguity weights: I =
    (n/ΣW)·Σw_ij z_i z_j / Σz² (>E[I] = −1/(n−1) ⇒ neighbors move
    together), C = ((n−1)/2ΣW)·Σw_ij(z_i−z_j)²/Σz² (<1 ⇒ positive
    autocorrelation) — the two canonical spatial statistics, which
    bound each other and disagree only under local heterogeneity.
    Region membership is the adjacency a commerce dataset actually has.

    Revenue is decimal-exact (scaled to $M); all pair products ride
    DECIMAL(38,12).

    Scale: fact collapses to |nations| rows first; the neighbor-pair
    expansion is a region-keyed self-join of that ≤25-row grid, and the
    1-row mean/denominator aggregates broadcast back (whitelisted
    BNLJ). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    natrev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg((F.sum(dec("o_totalprice")).cast("double") / F.lit(1e6)).alias("rev"))
    )
    v = nation.join(
        F.broadcast(natrev), nation.n_nationkey == natrev.nk, "left"
    ).select(
        F.col("n_nationkey").alias("nk"),
        F.col("n_regionkey").alias("rk"),
        F.coalesce(F.col("rev"), F.lit(0.0)).alias("x"),
    )
    # checkpointed once (r6): s/z/pairs/den each re-derived the
    # orders⨝customer fact rollup (6 fact scans in the plan); the
    # ≤|nations|-row grid materializes once
    v = v.localCheckpoint(eager=True)
    d12 = "decimal(38,12)"
    s = v.agg(
        bcount("n"),
        (F.sum(F.col("x").cast(d12)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
    )
    z = v.crossJoin(F.broadcast(s)).select(
        "nk", "rk", (F.col("x") - F.col("mu")).alias("z")
    )
    a, b = z.alias("a"), z.alias("b")
    pairs = a.join(
        b,
        (F.col("a.rk") == F.col("b.rk")) & (F.col("a.nk") != F.col("b.nk")),
    ).select(F.col("a.z").alias("za"), F.col("b.z").alias("zb"))
    num = pairs.agg(
        bcount("sw"),
        F.sum((F.col("za") * F.col("zb")).cast(d12)).cast("double").alias("szz"),
        F.sum(
            ((F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb"))).cast(d12)
        )
        .cast("double")
        .alias("sdd"),
    )
    den = z.agg(
        F.sum((F.col("z") * F.col("z")).cast(d12)).cast("double").alias("sz2"),
        bcount("n"),
    )
    return num.crossJoin(den).select(
        "n",
        F.col("sw").alias("n_neighbor_pairs"),
        F.round(
            F.col("n").cast("double") / F.col("sw") * F.col("szz") / F.col("sz2"),
            6,
        ).alias("morans_i"),
        F.round(-1.0 / (F.col("n") - 1), 6).alias("expected_i"),
        F.round(
            (F.col("n") - F.lit(1.0))
            / (2.0 * F.col("sw"))
            * F.col("sdd")
            / F.col("sz2"),
            6,
        ).alias("gearys_c"),
    )


@register(
    "q_copeland_ranking",
    oracle="""
    WITH daily AS (
      SELECT p.p_brand AS brand, l.l_shipdate AS day,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    duels AS (
      SELECT a.brand AS ba, b.brand AS bb,
             CAST(COUNT(*) FILTER (WHERE a.rev > b.rev) AS BIGINT) AS wa,
             CAST(COUNT(*) FILTER (WHERE a.rev < b.rev) AS BIGINT) AS wb
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.brand < b.brand
      GROUP BY 1, 2
    ),
    outcomes AS (
      SELECT ba AS brand,
             CASE WHEN wa > wb THEN 1 ELSE 0 END AS win,
             CASE WHEN wa < wb THEN 1 ELSE 0 END AS loss
      FROM duels
      UNION ALL
      SELECT bb,
             CASE WHEN wb > wa THEN 1 ELSE 0 END,
             CASE WHEN wb < wa THEN 1 ELSE 0 END
      FROM duels
    )
    SELECT brand,
           CAST(SUM(win) AS BIGINT) AS wins,
           CAST(SUM(loss) AS BIGINT) AS losses,
           CAST(COUNT(*) - SUM(win) - SUM(loss) AS BIGINT) AS draws,
           CAST(SUM(win) - SUM(loss) AS BIGINT) AS copeland_score
    FROM outcomes GROUP BY 1
    """,
)
def q_copeland_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copeland pairwise-majority ranking of brands: each brand pair
    plays one "duel" decided by which brand out-sold the other on more
    shared shipping days (decimal-exact daily revenue, strict
    comparisons, equal day-counts = draw); the Copeland score is wins −
    losses across all duels — the Condorcet-consistent committee-vote
    ranking, robust to the revenue outliers that distort a plain total
    ranking (cf. q_colley_ranking, which instead propagates strength of
    schedule). Head-to-head day counting also underlies the
    q_brand_cannibalization share-shift view.

    Scale: fact collapses to the |brands|×|days| grid first; the duel
    join is day-keyed over that bounded grid (≤25 rows per day — the
    same whitelisted pre-AQE SMJ stance as q_brand_cannibalization);
    outcomes aggregate to |brands|² then |brands| rows. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    daily = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_shipdate").alias("day"))
        .agg(F.sum(dec("l_extendedprice")).alias("rev"))
    )
    # checkpointed once (r6): the a/b duel self-join re-derived the
    # lineitem⨝part rollup per side (4 fact scans in the plan); the
    # |brands|×|days| grid materializes once
    daily = daily.localCheckpoint(eager=True)
    a, b = daily.alias("a"), daily.alias("b")
    duels = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(F.col("a.brand").alias("ba"), F.col("b.brand").alias("bb"))
        .agg(
            F.count_if(F.col("a.rev") > F.col("b.rev"))
            .cast("bigint")
            .alias("wa"),
            F.count_if(F.col("a.rev") < F.col("b.rev"))
            .cast("bigint")
            .alias("wb"),
        )
    )
    # the outcomes union references duels twice; the ≤|brands|² duel
    # table materializes once instead of re-running the day-keyed join
    duels = duels.localCheckpoint(eager=True)
    outcomes = duels.select(
        F.col("ba").alias("brand"),
        F.when(F.col("wa") > F.col("wb"), 1).otherwise(0).alias("win"),
        F.when(F.col("wa") < F.col("wb"), 1).otherwise(0).alias("loss"),
    ).unionAll(
        duels.select(
            F.col("bb").alias("brand"),
            F.when(F.col("wb") > F.col("wa"), 1).otherwise(0).alias("win"),
            F.when(F.col("wb") < F.col("wa"), 1).otherwise(0).alias("loss"),
        )
    )
    return outcomes.groupBy("brand").agg(
        F.sum("win").cast("bigint").alias("wins"),
        F.sum("loss").cast("bigint").alias("losses"),
        (F.count(F.lit(1)) - F.sum("win") - F.sum("loss"))
        .cast("bigint")
        .alias("draws"),
        (F.sum("win") - F.sum("loss")).cast("bigint").alias("copeland_score"),
    )
