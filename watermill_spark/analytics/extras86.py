"""Analytics batch 94: the rich-club coefficient of the trade graph,
Erlang-B blocking probability for the event arrival load (the classic
telephony capacity formula, unrolled as a fixed expression chain), and
LMDI (log-mean Divisia) decomposition of revenue growth into quantity
and price effects.

Erlang-B's recursion B_k = aB_{k-1}/(k + aB_{k-1}) has no closed form,
but for a fixed channel count it IS a fixed expression — both engines
evaluate the identical 12-step chain generated from one template.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec, telescoped_lambda
from .registry import load, register
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges

_RICH_K = 8  # top-k degree nodes form the club
_ERLANG_C = 12  # channels


def _erlang_b_sql(a: str, c: int) -> str:
    """SQL expression for Erlang B(c, a) via the unrolled recursion."""
    expr = "1.0"  # B_0 = 1
    for k in range(1, c + 1):
        expr = f"(({a}) * {expr} / ({k} + ({a}) * {expr}))"
    return expr


@register(
    "q_rich_club",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    und AS (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und) x
      GROUP BY node
    ),
    club AS (
      SELECT node FROM (
        SELECT node, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rn
        FROM deg) r
      WHERE rn <= {_RICH_K}
    ),
    club_edges AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ec
      FROM und
      WHERE a IN (SELECT node FROM club) AND b IN (SELECT node FROM club)
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n
      FROM und
    )
    SELECT CAST({_RICH_K} AS BIGINT) AS club_size,
           club_edges.ec AS club_edges,
           round(CAST(club_edges.ec AS DOUBLE)
                 / ({_RICH_K} * ({_RICH_K} - 1) / 2), 6) AS club_density,
           round(CAST(tot.m AS DOUBLE)
                 / (CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2), 6)
             AS graph_density,
           round((CAST(club_edges.ec AS DOUBLE)
                  / ({_RICH_K} * ({_RICH_K} - 1) / 2))
                 / (CAST(tot.m AS DOUBLE)
                    / (CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2)), 4)
             AS rich_club_coefficient
    FROM club_edges, tot
    """,
)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the trade graph: the edge density among
    the top-8 highest-degree nations divided by the whole-graph density —
    φ ≫ 1 means the hubs preferentially trade *with each other* (an
    oligarchy layer q_degree_assortativity hints at and this quantifies
    directly), the standard core-elite diagnostic in economic and
    brain-network analysis.

    All-integer edge/degree counts; densities are exact-count ratios;
    the club pick tiebreaks on node id.

    Scale: everything runs on the collapsed undirected edge list with a
    broadcast 8-node club. §2.B [NS].
    """
    from pyspark.sql import Window

    edges = nation_trade_edges(spark, sf_dir).select("src", "dst")
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct().localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(bcount("d"))
    )
    club = (
        deg.select(
            "node",
            F.row_number().over(Window.orderBy(F.col("d").desc(), "node")).alias("rn"),
        )
        .filter(F.col("rn") <= _RICH_K)
        .select("node")
    )
    club_edges = (
        und.join(F.broadcast(club.withColumnRenamed("node", "a")), "a")
        .join(F.broadcast(club.withColumnRenamed("node", "b")), "b")
        .agg(bcount("ec"))
    )
    tot = und.agg(bcount("m")).crossJoin(F.broadcast(deg.agg(bcount("n"))))
    s = club_edges.crossJoin(F.broadcast(tot))
    club_density = F.col("ec").cast("double") / (_RICH_K * (_RICH_K - 1) / 2)
    graph_density = F.col("m").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1) / 2
    )
    return s.select(
        F.lit(_RICH_K).cast("bigint").alias("club_size"),
        F.col("ec").alias("club_edges"),
        F.round(club_density, 6).alias("club_density"),
        F.round(graph_density, 6).alias("graph_density"),
        F.round(club_density / graph_density, 4).alias("rich_club_coefficient"),
    )


@register(
    "q_erlang_blocking",
    oracle=f"""
    WITH gaps AS (
      SELECT CAST(date_diff('second', LAG(ts) OVER (ORDER BY ts, event_id),
                            ts) AS BIGINT) AS g
      FROM events
    ),
    arr AS (
      SELECT CAST(COUNT(*) AS DOUBLE) / CAST(SUM(g) AS DOUBLE) AS lam
      FROM gaps WHERE g IS NOT NULL
    ),
    svc AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS es
      FROM events
    ),
    load_a AS (SELECT arr.lam * svc.es AS a FROM arr, svc)
    SELECT round(a, 6) AS offered_load_erlangs,
           CAST({_ERLANG_C} AS BIGINT) AS channels,
           round({_erlang_b_sql("a", _ERLANG_C)}, 8) AS blocking_prob,
           round(a * (1.0 - {_erlang_b_sql("a", _ERLANG_C)}), 6)
             AS carried_load,
           CASE WHEN {_erlang_b_sql("a", _ERLANG_C)} < 0.01
                THEN 'meets_1pct_gos' ELSE 'underprovisioned' END AS verdict
    FROM load_a
    """,
)
def q_erlang_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-B blocking probability for the event stream served by 12
    channels: offered load a = λ·E[S] from the measured arrival rate and
    service proxy, then B(12, a) via the unrolled recursion
    B_k = aB_{k-1}/(k + aB_{k-1}) — telephony's century-old capacity
    formula, still the right answer for "how many parallel workers until
    the loss rate is under 1%?" (the loss-system complement to
    q_mg1_queue_wait's waiting system).

    Determinism: a comes from exact moment sums; the 12-step recursion
    is a generated fixed expression chain identical on both engines.

    Scale (r6 rewrite): the arrival rate used a global lag window —
    Spark executes an unpartitioned window in ONE task (every event row
    through a single sort). But the interarrival sum TELESCOPES:
    Σ(tsᵢ−tsᵢ₋₁) over the time-sorted stream = max(ts)−min(ts), and the
    gap count is (non-null ts count)−1 — so λ is one map-side-combined
    moment aggregate, no window, no sort, no single-task stage. Values
    are identical bigint/double arithmetic. Two moment passes → 1-row
    closed-form chain. §2.B [NS], guide §2.5.
    """
    ev = load(spark, sf_dir, "events")

    # λ via det.telescoped_lambda (r6 pass 13a; hoisted r7). r7 also
    # merges the arrival and service moments into ONE aggregate pass —
    # one events scan instead of two, no cross join, identical values.
    s = ev.agg(
        telescoped_lambda(),
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("es"),
    ).select((F.col("lam") * F.col("es")).alias("a"))
    # r7 (guide §7.3 "planning time itself can become the bottleneck"):
    # the single-expression recursion B_k = aB_{k-1}/(k + aB_{k-1})
    # references B_{k-1} twice, so the expression TREE doubles per step —
    # ~2^12 nodes for 12 channels, and Catalyst spent ~6 s of the query's
    # sf1 wall planning/codegening it (the data work is one 1-row
    # aggregate). The recursion now advances column-by-column with the
    # 1-row frame checkpointed every 4 steps, which caps every plan at a
    # 16-leaf tree. Identical double arithmetic step for step.
    b = F.lit(1.0)
    for k in range(1, _ERLANG_C + 1):
        s = s.select(
            "a", (F.col("a") * b / (F.lit(float(k)) + F.col("a") * b)).alias("b")
        )
        b = F.col("b")
        if k % 4 == 0:
            s = s.localCheckpoint(eager=True)
    return s.select(
        F.round("a", 6).alias("offered_load_erlangs"),
        F.lit(_ERLANG_C).cast("bigint").alias("channels"),
        F.round(b, 8).alias("blocking_prob"),
        F.round(F.col("a") * (1.0 - b), 6).alias("carried_load"),
        F.when(b < 0.01, "meets_1pct_gos")
        .otherwise("underprovisioned")
        .alias("verdict"),
    )


@register(
    "q_lmdi_decomposition",
    oracle="""
    WITH yearly AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE year(o.o_orderdate) IN (1995, 1996)
      GROUP BY 1
    ),
    wide AS (
      SELECT MAX(CASE WHEN yr = 1995 THEN q END) AS q0,
             MAX(CASE WHEN yr = 1996 THEN q END) AS q1,
             MAX(CASE WHEN yr = 1995 THEN v END) AS v0,
             MAX(CASE WHEN yr = 1996 THEN v END) AS v1
      FROM yearly
    ),
    lm AS (
      SELECT q0, q1, v0, v1,
             v1 / q1 AS p1, v0 / q0 AS p0,
             (v1 - v0) / (ln(v1) - ln(v0)) AS logmean_v
      FROM wide
    )
    SELECT round(v1 - v0, 2) AS total_change,
           round(logmean_v * ln(q1 / q0), 2) AS quantity_effect,
           round(logmean_v * ln(p1 / p0), 2) AS price_effect,
           round(logmean_v * ln(q1 / q0)
                 + logmean_v * ln(p1 / p0), 2) AS effects_sum,
           round((v1 - v0)
                 - (logmean_v * ln(q1 / q0) + logmean_v * ln(p1 / p0)), 6)
             + 0.0 AS residual
    FROM lm
    """,
)
def q_lmdi_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LMDI (log-mean Divisia index) decomposition of 1995→1996 revenue
    change into a quantity effect and a price effect: ΔV = L(V₁,V₀)·ln
    (Q₁/Q₀) + L(V₁,V₀)·ln(P₁/P₀) with the log-mean weight L(a,b) =
    (a−b)/(ln a − ln b) — the decomposition that is *exact by
    construction* (zero residual), unlike Laspeyres/Paasche splits
    (q_price_indices) which leave an interaction term; the standard in
    energy/emissions accounting.

    Determinism: yearly aggregates are exact decimal sums; the
    decomposition is a fixed-shape expression (residual ≈ 0 is itself
    the correctness witness, reported at 1e-6).

    Scale: one two-year rollup → 1-row algebra. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    yearly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("q"),
            F.sum(dec("l_extendedprice")).cast("double").alias("v"),
        )
    )
    wide = yearly.agg(
        F.max(F.when(F.col("yr") == 1995, F.col("q"))).alias("q0"),
        F.max(F.when(F.col("yr") == 1996, F.col("q"))).alias("q1"),
        F.max(F.when(F.col("yr") == 1995, F.col("v"))).alias("v0"),
        F.max(F.when(F.col("yr") == 1996, F.col("v"))).alias("v1"),
    )
    p1 = F.col("v1") / F.col("q1")
    p0 = F.col("v0") / F.col("q0")
    lmv = (F.col("v1") - F.col("v0")) / (F.log("v1") - F.log("v0"))
    qe = lmv * F.log(F.col("q1") / F.col("q0"))
    pe = lmv * F.log(p1 / p0)
    return wide.select(
        F.round(F.col("v1") - F.col("v0"), 2).alias("total_change"),
        F.round(qe, 2).alias("quantity_effect"),
        F.round(pe, 2).alias("price_effect"),
        F.round(qe + pe, 2).alias("effects_sum"),
        (F.round((F.col("v1") - F.col("v0")) - (qe + pe), 6) + F.lit(0.0)).alias(
            "residual"
        ),
    )
