"""Analytics batch 87: HITS hubs & authorities on the trade graph (the
second classic link-analysis fixed point after pagerank), the month-end
calendar effect on revenue, and Lotka's law of customer productivity.

HITS alternates a ← Eᵀh, h ← E·a with L2 normalization each half-step —
the same unrolled-iteration discipline as q_pagerank_nations with the
normalizer as a 1-row broadcast; hub vs authority separates "big buyers"
from "big suppliers" in one directed graph, which pagerank's single score
conflates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import OLS_SLOPE_SQL, bcount, dec, ols_slope
from .registry import load, register
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges

_HITS_ROUNDS = 3

_HITS_AUTH_SQL = """
      SELECT e.dst AS node,
             CAST(SUM(CAST({h}.s * e.w AS DECIMAL(38,12))) AS DOUBLE) AS s
      FROM edges e JOIN {h} ON {h}.node = e.src
      GROUP BY e.dst
"""

_HITS_HUB_SQL = """
      SELECT e.src AS node,
             CAST(SUM(CAST({a}.s * e.w AS DECIMAL(38,12))) AS DOUBLE) AS s
      FROM edges e JOIN {a} ON {a}.node = e.dst
      GROUP BY e.src
"""

_HITS_NORM_SQL = """
      SELECT node, s / (SELECT sqrt(CAST(SUM(CAST(s * s AS DECIMAL(38,15)))
                        AS DOUBLE)) FROM {x}) AS s
      FROM {x}
"""


@register(
    "q_hits_hubs_authorities",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    h0 AS (SELECT node, 1.0 AS s FROM nodes),
    {",".join(
        f"a{k + 1}r AS MATERIALIZED ({_HITS_AUTH_SQL.format(h=f'h{k}')}), "
        f"a{k + 1} AS MATERIALIZED ({_HITS_NORM_SQL.format(x=f'a{k + 1}r')}), "
        f"h{k + 1}r AS MATERIALIZED ({_HITS_HUB_SQL.format(a=f'a{k + 1}')}), "
        f"h{k + 1} AS MATERIALIZED ({_HITS_NORM_SQL.format(x=f'h{k + 1}r')})"
        for k in range(_HITS_ROUNDS)
    )}
    SELECT CAST(n.node AS BIGINT) AS nation,
           round(COALESCE(h.s, 0.0), 6) AS hub_score,
           round(COALESCE(a.s, 0.0), 6) AS authority_score
    FROM nodes n
    LEFT JOIN h{_HITS_ROUNDS} h ON h.node = n.node
    LEFT JOIN a{_HITS_ROUNDS} a ON a.node = n.node
    ORDER BY nation
    """,
)
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hyperlink-induced topic search) on the directed trade graph,
    3 rounds of a ← Eᵀh / h ← E·a with L2 normalization per half-step:
    hub score = "imports from the places everyone supplies" (big
    customers), authority score = "supplies the places everyone buys
    from" (big suppliers) — the two-sided link-analysis ranking that
    q_pagerank_nations' single stationary score cannot separate on a
    directed economy.

    Determinism: every matrix-vector product term and every norm term is
    DECIMAL-cast per edge/node (the pagerank discipline); rounds are
    fixed and identical on both engines.

    Scale: iteration state is the |nodes| vector (broadcast); each
    half-step is one edge join + map-side-combined aggregation; lineage
    is truncated per round with localCheckpoint (see SCALE.md). §2.B
    [NS].
    """
    edges = nation_trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select("dst")
    ).distinct().localCheckpoint(eager=True)

    def normalize(df: DataFrame) -> DataFrame:
        nrm = df.agg(
            F.sqrt(
                F.sum((F.col("s") * F.col("s")).cast("decimal(38,15)")).cast(
                    "double"
                )
            ).alias("z")
        )
        return df.crossJoin(F.broadcast(nrm)).select(
            "node", (F.col("s") / F.col("z")).alias("s")
        )

    h = nodes.select("node", F.lit(1.0).alias("s"))
    a = None
    for _ in range(_HITS_ROUNDS):
        a = normalize(
            edges.join(
                F.broadcast(h.withColumnRenamed("node", "src")), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum((F.col("s") * F.col("w")).cast("decimal(38,12)"))
                .cast("double")
                .alias("s")
            )
        ).localCheckpoint(eager=True)
        h = normalize(
            edges.join(
                F.broadcast(a.withColumnRenamed("node", "dst")), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.sum((F.col("s") * F.col("w")).cast("decimal(38,12)"))
                .cast("double")
                .alias("s")
            )
        ).localCheckpoint(eager=True)
    return (
        nodes.join(
            F.broadcast(h.withColumnRenamed("s", "hub")), "node", "left"
        )
        .join(F.broadcast(a.withColumnRenamed("s", "auth")), "node", "left")
        .select(
            F.col("node").cast("bigint").alias("nation"),
            F.round(F.coalesce(F.col("hub"), F.lit(0.0)), 6).alias("hub_score"),
            F.round(F.coalesce(F.col("auth"), F.lit(0.0)), 6).alias(
                "authority_score"
            ),
        )
        .orderBy("nation")
    )


@register(
    "q_month_end_effect",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(day(o_orderdate) AS BIGINT) AS dom,
             CAST(day(last_day(o_orderdate)) AS BIGINT) AS dim,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders GROUP BY 1, 2, 3
    ),
    marked AS (
      SELECT rev, CASE WHEN dom > dim - 3 THEN 1 ELSE 0 END AS is_me,
             dim
      FROM daily
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(is_me) AS BIGINT) AS n_me_days,
             CAST(SUM(rev) AS DOUBLE) AS total_rev,
             CAST(SUM(CASE WHEN is_me = 1 THEN rev END) AS DOUBLE) AS me_rev
      FROM marked
    )
    SELECT n_days, n_me_days,
           round(me_rev / total_rev, 6) AS month_end_rev_share,
           round(CAST(n_me_days AS DOUBLE) / n_days, 6) AS month_end_day_share,
           round((me_rev / total_rev)
                 / (CAST(n_me_days AS DOUBLE) / n_days), 4) AS concentration,
           CASE WHEN (me_rev / total_rev)
                     / (CAST(n_me_days AS DOUBLE) / n_days) > 1.1
                THEN 'month_end_spike'
                WHEN (me_rev / total_rev)
                     / (CAST(n_me_days AS DOUBLE) / n_days) < 0.9
                THEN 'month_end_dip' ELSE 'flat' END AS verdict
    FROM s
    """,
)
def q_month_end_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end calendar effect: revenue share of each month's final 3
    days against their day share — the concentration ratio that exposes
    quota-driven sales pull-forward or billing-cycle batching (ratio ≈ 1
    means no effect), completing the calendar-effects set
    (q_eta_squared_dow: weekday, q_seasonality_index: month,
    q_friedman_test: blocked weekday).

    Determinism: month-end flags compare exact day-of-month integers
    against last_day(); revenue sums are exact decimals.

    Scale: one map-side daily rollup → 1-row ratio. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        F.dayofmonth(F.last_day("o_orderdate")).cast("bigint").alias("dim"),
    ).agg(F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev"))
    marked = daily.select(
        "rev", F.when(F.col("dom") > F.col("dim") - 3, 1).otherwise(0).alias("is_me")
    )
    s = marked.agg(
        bcount("n_days"),
        F.sum("is_me").cast("bigint").alias("n_me_days"),
        F.sum("rev").cast("double").alias("total_rev"),
        F.sum(F.when(F.col("is_me") == 1, F.col("rev")))
        .cast("double")
        .alias("me_rev"),
    )
    rev_share = F.col("me_rev") / F.col("total_rev")
    day_share = F.col("n_me_days").cast("double") / F.col("n_days")
    conc = rev_share / day_share
    return s.select(
        "n_days",
        "n_me_days",
        F.round(rev_share, 6).alias("month_end_rev_share"),
        F.round(day_share, 6).alias("month_end_day_share"),
        F.round(conc, 4).alias("concentration"),
        F.when(conc > 1.1, "month_end_spike")
        .when(conc < 0.9, "month_end_dip")
        .otherwise("flat")
        .alias("verdict"),
    )


@register(
    "q_lotka_law",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
      FROM orders GROUP BY 1
    ),
    fof AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k
      FROM per_cust GROUP BY k
    ),
    pts AS (
      SELECT CAST(ln(CAST(k AS DOUBLE)) AS DECIMAL(18,12)) AS x,
             CAST(ln(CAST(n_k AS DOUBLE)) AS DECIMAL(18,12)) AS y
      FROM fof WHERE k <= 20
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM pts
    )
    SELECT n AS n_points,
           round(-{OLS_SLOPE_SQL}, 6)
             AS lotka_exponent,
           round(exp((sy - {OLS_SLOPE_SQL}
                      * sx) / n), 2) AS lotka_c,
           CASE WHEN abs(-{OLS_SLOPE_SQL} - 2.0)
                     < 0.5
                THEN 'lotka_like' ELSE 'non_lotka' END AS verdict
    FROM m
    """,
)
def q_lotka_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lotka's inverse-power law of productivity: fit ln(#customers with
    k orders) against ln k — classic Lotka has exponent ≈ 2 (the number
    of entities with k contributions falls as 1/k²); here it tests
    whether customer ordering behavior follows the same universal
    productivity curve as authorship (the counts-of-counts sibling of
    q_doc_zipf, which ranks by frequency instead of counting by count).

    Determinism: frequency-of-frequency counts are exact; ln points are
    decimal-cast before the OLS moment sums (q_heaps_law discipline).

    Scale: two map-side rollups to a ≤20-point grid → 1-row fit. §2.B
    [NS].
    """
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(bcount("k"))
    fof = per_cust.groupBy("k").agg(bcount("n_k"))
    pts = fof.filter(F.col("k") <= 20).select(
        F.log(F.col("k").cast("double")).cast("decimal(18,12)").alias("x"),
        F.log(F.col("n_k").cast("double")).cast("decimal(18,12)").alias("y"),
    )
    m = pts.agg(
        bcount("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            (F.col("x").cast("double") * F.col("y").cast("double")).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            (F.col("x").cast("double") * F.col("x").cast("double")).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sxx"),
    )
    slope = ols_slope()
    return m.select(
        F.col("n").alias("n_points"),
        F.round(-slope, 6).alias("lotka_exponent"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / F.col("n")), 2
        ).alias("lotka_c"),
        F.when(F.abs(-slope - 2.0) < 0.5, "lotka_like")
        .otherwise("non_lotka")
        .alias("verdict"),
    )
