"""Analytics batch 58: harmonic closeness centrality via all-pairs BFS on
the nation trade graph, the Friedman rank test for weekday effects within
weekly blocks, and Cochran's Q for year-over-year customer-activity
agreement.

Harmonic centrality composes the q_bfs_nation_hops relaxation loop, but
seeded from *every* node at once (the source id rides along as a column) —
the standard trick that turns single-source BFS into all-pairs on small
node sets without changing the join shape. The score is reassembled from
per-distance *counts* (n1 + n2/2 + n3/3) so no float accumulation exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges

_APSP_STEP_SQL = """
      SELECT s, node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT p.s, e.dst AS node, p.dist + 1 AS dist
        FROM edges e JOIN {prev} p ON p.node = e.src
        UNION ALL
        SELECT s, node, dist FROM {prev}
      ) u GROUP BY 1, 2
"""


@register(
    "q_harmonic_centrality",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    d0 AS (
      SELECT node AS s, node, CAST(0 AS BIGINT) AS dist FROM nodes
    ),
    d1 AS ({_APSP_STEP_SQL.format(prev="d0")}),
    d2 AS ({_APSP_STEP_SQL.format(prev="d1")}),
    d3 AS ({_APSP_STEP_SQL.format(prev="d2")}),
    cnts AS (
      SELECT s,
             CAST(COUNT(*) FILTER (WHERE dist = 1) AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (WHERE dist = 2) AS BIGINT) AS n2,
             CAST(COUNT(*) FILTER (WHERE dist = 3) AS BIGINT) AS n3
      FROM d3 GROUP BY s
    )
    SELECT CAST(s AS BIGINT) AS nation, n1, n2, n3,
           round(n1 + n2 / 2.0 + n3 / 3.0, 6) AS harmonic
    FROM cnts
    """,
)
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality of every nation in the directed trade
    graph: H(s) = Σ_{v≠s} 1/dist(s,v) over 3 BFS rounds (saturating for
    this graph's diameter) — the disconnected-safe closeness variant,
    complementing q_pagerank_nations (flow importance) and
    q_bfs_nation_hops (single-source distances).

    Determinism: distances are integer min-aggregates; the harmonic sum is
    reassembled from per-distance counts as n1 + n2/2 + n3/3 — a fixed
    3-term double expression, not an n-term float accumulation.

    Scale: the frontier table is |V|² rows max (all-pairs on the *nation*
    dimension — 625 here); each relaxation is edges ⋈ broadcast(frontier)
    + one min-agg shuffle, identical to the single-source loop. For
    billion-node graphs all-pairs is replaced by hub sampling; the
    per-round plan shape is unchanged. §2.B [NS].
    """
    edges = nation_trade_edges(spark, sf_dir).select("src", "dst").localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select("dst")
    ).distinct()
    dist = nodes.select(
        F.col("node").alias("s"), "node", F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(3):
        ext = edges.join(
            F.broadcast(dist.withColumnRenamed("node", "src")), "src"
        ).select("s", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            ext.unionByName(dist)
            .groupBy("s", "node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
    cnts = dist.groupBy("s").agg(
        F.count_if(F.col("dist") == 1).cast("bigint").alias("n1"),
        F.count_if(F.col("dist") == 2).cast("bigint").alias("n2"),
        F.count_if(F.col("dist") == 3).cast("bigint").alias("n3"),
    )
    return cnts.select(
        F.col("s").cast("bigint").alias("nation"),
        "n1",
        "n2",
        "n3",
        F.round(
            F.col("n1") + F.col("n2") / 2.0 + F.col("n3") / 3.0, 6
        ).alias("harmonic"),
    )


@register(
    "q_friedman_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(isodow(o_orderdate) AS BIGINT) AS dow,
             CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders WHERE year(o_orderdate) = 1995
      GROUP BY 1, 2, 3, 4
    ),
    full_weeks AS (
      SELECT y, wk FROM daily GROUP BY y, wk
      HAVING COUNT(DISTINCT dow) = 7
    ),
    ranked AS (
      SELECT d.y, d.wk, d.dow,
             CAST(RANK() OVER (PARTITION BY d.y, d.wk ORDER BY d.rev)
                  AS BIGINT) AS r
      FROM daily d JOIN full_weeks USING (y, wk)
    ),
    colsum AS (
      SELECT dow, CAST(SUM(r) AS BIGINT) AS rj,
             CAST(COUNT(*) AS BIGINT) AS n_blocks
      FROM ranked GROUP BY dow
    ),
    stat AS (
      SELECT MAX(n_blocks) AS n,
             CAST(SUM(rj * rj) AS BIGINT) AS sum_rj2
      FROM colsum
    )
    SELECT n AS n_weeks, CAST(7 AS BIGINT) AS k_days,
           round(12.0 / (n * 7 * 8) * sum_rj2 - 3.0 * n * 8, 6)
             AS friedman_chi2,
           CASE WHEN 12.0 / (n * 7 * 8) * sum_rj2 - 3.0 * n * 8 > 12.591587
                THEN 'weekday_effect' ELSE 'no_effect' END AS verdict
    FROM stat
    """,
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for a weekday effect on daily revenue: within
    each complete ISO week of 1995 (the block), rank the 7 weekdays by
    revenue; χ²_F = 12/(nk(k+1))·ΣRⱼ² − 3n(k+1) against the χ²(6) 0.05
    critical value — the non-parametric repeated-measures companion to
    q_eta_squared_dow and q_kruskal_wallis (which ignore the week
    blocking).

    Determinism: ranks order exact DECIMAL revenues (min-rank on the
    measure-zero chance of ties, identical on both engines); the statistic
    is integer rank sums in fixed double algebra.

    Scale: daily rollup map-side combines; ranking partitions by week (52
    blocks × 7 rows); everything after is a 7-row column-sum. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(
            F.col("o_orderdate").cast("date").alias("d"),
            F.dayofweek("o_orderdate").alias("dow_raw"),
            F.year("o_orderdate").cast("bigint").alias("y"),
            F.weekofyear("o_orderdate").cast("bigint").alias("wk"),
        )
        .agg(F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev"))
        # Spark dayofweek: 1=Sunday..7=Saturday; isodow: 1=Monday..7=Sunday
        .withColumn(
            "dow",
            F.when(F.col("dow_raw") == 1, 7).otherwise(F.col("dow_raw") - 1).cast(
                "bigint"
            ),
        )
    )
    full_weeks = (
        daily.groupBy("y", "wk")
        .agg(F.count_distinct("dow").alias("nd"))
        .filter(F.col("nd") == 7)
        .select("y", "wk")
    )
    ranked = daily.join(F.broadcast(full_weeks), ["y", "wk"]).select(
        "dow",
        F.rank()
        .over(Window.partitionBy("y", "wk").orderBy("rev"))
        .cast("bigint")
        .alias("r"),
    )
    colsum = ranked.groupBy("dow").agg(
        F.sum("r").cast("bigint").alias("rj"), bcount("n_blocks")
    )
    stat = colsum.agg(
        F.max("n_blocks").alias("n"),
        F.sum(F.col("rj") * F.col("rj")).cast("bigint").alias("sum_rj2"),
    )
    chi2 = (
        F.lit(12.0) / (F.col("n") * 7 * 8) * F.col("sum_rj2")
        - F.lit(3.0) * F.col("n") * 8
    )
    return stat.select(
        F.col("n").alias("n_weeks"),
        F.lit(7).cast("bigint").alias("k_days"),
        F.round(chi2, 6).alias("friedman_chi2"),
        F.when(chi2 > 12.591587, "weekday_effect")
        .otherwise("no_effect")
        .alias("verdict"),
    )


@register(
    "q_cochran_q",
    oracle="""
    WITH act AS (
      SELECT o_custkey,
             MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS y95,
             MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS y96,
             MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS y97
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(y95) AS BIGINT) AS g1,
             CAST(SUM(y96) AS BIGINT) AS g2,
             CAST(SUM(y97) AS BIGINT) AS g3,
             CAST(SUM(y95 + y96 + y97) AS BIGINT) AS sum_l,
             CAST(SUM((y95 + y96 + y97) * (y95 + y96 + y97)) AS BIGINT)
               AS sum_l2
      FROM act
    )
    SELECT n_customers, g1 AS active_1995, g2 AS active_1996,
           g3 AS active_1997,
           round(3.0 * 2
                 * ((g1 - CAST(sum_l AS DOUBLE) / 3)
                    * (g1 - CAST(sum_l AS DOUBLE) / 3)
                    + (g2 - CAST(sum_l AS DOUBLE) / 3)
                    * (g2 - CAST(sum_l AS DOUBLE) / 3)
                    + (g3 - CAST(sum_l AS DOUBLE) / 3)
                    * (g3 - CAST(sum_l AS DOUBLE) / 3))
                 / (3.0 * sum_l - sum_l2), 6) AS cochran_q,
           CASE WHEN 3.0 * 2
                 * ((g1 - CAST(sum_l AS DOUBLE) / 3)
                    * (g1 - CAST(sum_l AS DOUBLE) / 3)
                    + (g2 - CAST(sum_l AS DOUBLE) / 3)
                    * (g2 - CAST(sum_l AS DOUBLE) / 3)
                    + (g3 - CAST(sum_l AS DOUBLE) / 3)
                    * (g3 - CAST(sum_l AS DOUBLE) / 3))
                 / (3.0 * sum_l - sum_l2) > 5.991465
                THEN 'rates_differ' ELSE 'stable' END AS verdict
    FROM s
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test on the binary customer-activity matrix (did each
    customer order in 1995/1996/1997?): Q = k(k−1)·Σⱼ(Gⱼ−N/k)² /
    (k·ΣLᵢ − ΣLᵢ²) ~ χ²(k−1) — the k-treatment generalization of
    q_mcnemar, asking whether yearly participation rates shift (the
    aggregate-level twin of q_growth_accounting's churn ledger).

    Determinism: everything up to the final expression is exact integer
    sums over the 0/1 activity matrix; the statistic is one fixed-shape
    double formula on six integers.

    Scale: one map-side-combined groupBy(custkey) collapses the fact table
    into per-customer bits; the second agg is 1 row. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    yy = F.year("o_orderdate")

    def act(y: int, alias: str):
        return F.max(F.when(yy == y, 1).otherwise(0)).alias(alias)

    m = o.groupBy("o_custkey").agg(act(1995, "y95"), act(1996, "y96"), act(1997, "y97"))
    l = F.col("y95") + F.col("y96") + F.col("y97")
    s = m.agg(
        bcount("n_customers"),
        F.sum("y95").cast("bigint").alias("g1"),
        F.sum("y96").cast("bigint").alias("g2"),
        F.sum("y97").cast("bigint").alias("g3"),
        F.sum(l).cast("bigint").alias("sum_l"),
        F.sum(l * l).cast("bigint").alias("sum_l2"),
    )
    mean_g = F.col("sum_l").cast("double") / 3
    num = (
        (F.col("g1") - mean_g) * (F.col("g1") - mean_g)
        + (F.col("g2") - mean_g) * (F.col("g2") - mean_g)
        + (F.col("g3") - mean_g) * (F.col("g3") - mean_g)
    )
    q = F.lit(3.0) * 2 * num / (F.lit(3.0) * F.col("sum_l") - F.col("sum_l2"))
    return s.select(
        "n_customers",
        F.col("g1").alias("active_1995"),
        F.col("g2").alias("active_1996"),
        F.col("g3").alias("active_1997"),
        F.round(q, 6).alias("cochran_q"),
        F.when(q > 5.991465, "rates_differ").otherwise("stable").alias("verdict"),
    )
