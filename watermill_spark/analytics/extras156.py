"""Analytics batch 164: random-walk hitting probabilities, BCG
growth-share matrix, and the cohort cumulative-revenue curve.

Hitting probabilities complete the trade-graph family's dynamics
(pagerank = long-run visitation; hitting = "does a walk from nation i
reach the hub within K steps?") using the same truncated fixed-point
recipe as q_markov_steps_to_purchase. The BCG matrix is the portfolio
quadrant every strategy deck draws (relative share × growth); the
cohort revenue curve is the LTV companion to q_cohort_retention_
triangle (not just WHO remains, but what they've spent by age a).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/graph/window families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register

_HIT_ROUNDS = 12
_TARGET = 0  # absorbing nation key

_HIT_STEP_SQL = f"""
      SELECT n.node,
             CASE WHEN n.node = {_TARGET} THEN 1.0
                  ELSE COALESCE(CAST(SUM(CAST(p.pr * {{prev}}.h
                       AS DECIMAL(28,18))) AS DOUBLE), 0.0) END AS h
      FROM nodes n
      LEFT JOIN probs p ON p.src = n.node
      LEFT JOIN {{prev}} ON {{prev}}.node = p.dst
      GROUP BY n.node
"""


@register(
    "q_random_walk_hitting",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
             FROM edges GROUP BY 1),
    probs AS (
      SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS pr
      FROM edges e JOIN outw o ON o.src = e.src
    ),
    h0 AS (SELECT node, CASE WHEN node = {_TARGET} THEN 1.0 ELSE 0.0 END
             AS h FROM nodes),
    {",".join(f"h{k + 1} AS ({_HIT_STEP_SQL.format(prev=f'h{k}')})" for k in range(_HIT_ROUNDS))}
    SELECT n.node AS nationkey,
           COALESCE(o.ow, 0) AS out_weight,
           round(hN.h, 6) AS p_hit_within_{_HIT_ROUNDS}
    FROM nodes n
    LEFT JOIN outw o ON o.src = n.node
    JOIN h{_HIT_ROUNDS} hN ON hN.node = n.node
    ORDER BY n.node
    """,
)
def q_random_walk_hitting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hitting probability of the trade-volume random walk: starting
    from each nation and stepping to suppliers proportional to trade
    weight, the probability of reaching the hub nation (key 0) within
    12 steps — h ← P·h with the target pinned at 1, the truncated
    fixed-point of the absorbing-chain hitting equation (the
    q_markov_steps_to_purchase recipe on the nation graph). Nations
    with low hitting probability trade in a cluster disconnected from
    the hub — the dynamics view that pagerank's stationary shares miss.

    Determinism: transition probabilities are integer-count ratios;
    each round's P·h products route per-term through DECIMAL(28,18),
    so round 12 is bit-identical cross-engine.

    Scale: the iteration runs on the ≤|nations|² collapsed edge list —
    broadcast-sized forever; per round one small join + groupBy with
    lineage kept flat by the bounded state. §2.B graph family [NS].
    """
    edges = nation_trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("ow"))
    probs = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w").cast("double") / F.col("ow")).alias("pr"))
    ).localCheckpoint(eager=True)
    h = nodes.select(
        "node",
        F.when(F.col("node") == _TARGET, 1.0).otherwise(0.0).alias("h"),
    )
    for _ in range(_HIT_ROUNDS):
        h = (
            nodes.join(F.broadcast(probs), nodes.node == probs.src, "left")
            .join(
                F.broadcast(h.select(F.col("node").alias("dst2"), "h")),
                F.col("dst") == F.col("dst2"),
                "left",
            )
            .groupBy(nodes.node)
            .agg(
                F.when(F.col("node") == _TARGET, 1.0)
                .otherwise(
                    F.coalesce(
                        F.sum(
                            (F.col("pr") * F.col("h")).cast("decimal(28,18)")
                        ).cast("double"),
                        F.lit(0.0),
                    )
                )
                .alias("h")
            )
        )
    return (
        nodes.join(
            F.broadcast(outw.withColumnRenamed("src", "node")), "node", "left"
        )
        .join(F.broadcast(h), "node")
        .select(
            F.col("node").alias("nationkey"),
            F.coalesce(F.col("ow"), F.lit(0)).alias("out_weight"),
            F.round("h", 6).alias(f"p_hit_within_{_HIT_ROUNDS}"),
        )
        .orderBy("nationkey")
    )


@register(
    "q_bcg_matrix",
    oracle="""
    WITH rng AS (
      SELECT CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE) AS lo,
             CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE)
             + CAST(FLOOR(date_diff('day',
                     MIN(CAST(o_orderdate AS DATE)),
                     MAX(CAST(o_orderdate AS DATE))) / 2.0)
                    AS INTEGER) * INTERVAL 1 DAY AS cut
      FROM orders
    ),
    per_nation AS (
      SELECT n.n_name AS nation,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS rev,
             CAST(SUM(CASE WHEN CAST(o.o_orderdate AS DATE) <= r.cut
                      THEN CAST(o.o_totalprice AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS rev1,
             CAST(SUM(CASE WHEN CAST(o.o_orderdate AS DATE) > r.cut
                      THEN CAST(o.o_totalprice AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS rev2
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey, rng r
      GROUP BY 1
    ),
    mx AS (SELECT MAX(rev) AS max_rev FROM per_nation)
    SELECT p.nation,
           round(p.rev / m.max_rev, 6) AS relative_share,
           round((p.rev2 - p.rev1) / p.rev1 * 100.0, 4) AS growth_pct,
           CASE WHEN p.rev / m.max_rev >= 0.75
                     AND (p.rev2 - p.rev1) / p.rev1 > 0 THEN 'star'
                WHEN p.rev / m.max_rev >= 0.75 THEN 'cash_cow'
                WHEN (p.rev2 - p.rev1) / p.rev1 > 0 THEN 'question_mark'
                ELSE 'dog' END AS quadrant
    FROM per_nation p, mx m
    ORDER BY p.nation
    """,
)
def q_bcg_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCG growth-share matrix over nations: relative share = revenue
    vs the leading nation, growth = second-half vs first-half revenue
    (calendar midpoint split); the 0.75-relative-share × positive-
    growth cuts label each nation star / cash cow / question mark /
    dog — the portfolio-allocation quadrant, computed exactly.

    Determinism: revenue halves are decimal-exact conditional sums;
    the midpoint is integer date arithmetic; quadrant cuts compare
    identical doubles.

    Scale: one broadcast-star fact rollup to the nation grain; the
    1-row max-revenue and date-range broadcasts are whitelisted. §2.B
    aggregation family [NS].
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rng = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    ).select(
        F.date_add(
            F.col("lo"), F.floor(F.datediff("hi", "lo") / 2.0).cast("int")
        ).alias("cut")
    )
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .crossJoin(F.broadcast(rng))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("rev"),
            F.sum(
                F.when(
                    F.col("o_orderdate").cast("date") <= F.col("cut"),
                    dec("o_totalprice"),
                )
            )
            .cast("double")
            .alias("rev1"),
            F.sum(
                F.when(
                    F.col("o_orderdate").cast("date") > F.col("cut"),
                    dec("o_totalprice"),
                )
            )
            .cast("double")
            .alias("rev2"),
        )
    )
    # checkpointed once (r6): the max-revenue probe and the quadrant
    # projection each re-derived the orders⨝customer rollup (+its rng
    # prescan — 4 orders scans in the plan); the ≤|nations|-row grid
    # materializes once, leaving rng + rollup as the only fact passes
    per_nation = per_nation.localCheckpoint(eager=True)
    mx = per_nation.agg(F.max("rev").alias("max_rev"))
    rel = F.col("rev") / F.col("max_rev")
    gr = (F.col("rev2") - F.col("rev1")) / F.col("rev1")
    return (
        per_nation.crossJoin(F.broadcast(mx))
        .select(
            "nation",
            F.round(rel, 6).alias("relative_share"),
            F.round(gr * 100.0, 4).alias("growth_pct"),
            F.when((rel >= 0.75) & (gr > 0), "star")
            .when(rel >= 0.75, "cash_cow")
            .when(gr > 0, "question_mark")
            .otherwise("dog")
            .alias("quadrant"),
        )
        .orderBy("nation")
    )


@register(
    "q_cohort_revenue_curve",
    oracle="""
    WITH om AS (
      SELECT o_custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS ym,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    first AS (
      SELECT o_custkey, MIN(ym) AS cohort FROM om GROUP BY 1
    ),
    sz AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM first GROUP BY 1
    ),
    aged AS (
      SELECT f.cohort,
             CAST((year(o.ym) * 12 + month(o.ym))
                  - (year(f.cohort) * 12 + month(f.cohort)) AS BIGINT)
               AS age,
             CAST(SUM(CAST(o.rev AS DECIMAL(38,10))) AS DOUBLE) AS rev
      FROM om o JOIN first f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, age, rev,
             CAST(SUM(CAST(rev AS DECIMAL(38,10)))
                  OVER (PARTITION BY cohort ORDER BY age
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev
      FROM aged
    )
    SELECT c.cohort AS cohort_month, c.age,
           round(c.cum_rev, 2) AS cum_revenue,
           FLOOR(c.cum_rev / s.cohort_size * 10000.0) / 10000.0
             AS cum_rev_per_customer
    FROM cum c JOIN sz s ON s.cohort = c.cohort
    WHERE c.age <= 6
    ORDER BY 1, 2
    """,
)
def q_cohort_revenue_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort cumulative-revenue (LTV) curve: customers grouped by
    first-order month; per cohort × month-age the cumulative revenue
    and revenue per original cohort member — the money view of
    q_cohort_retention_triangle (retention says who's left; this says
    what the cohort has been worth by age a, the curve CLV models are
    fit against).

    Determinism: month age is integer calendar arithmetic; revenue
    accumulates through DECIMAL in both the rollup and the prefix
    window.

    Scale: orders → (customer, month) → (cohort, age) rollups; the
    prefix window partitions by cohort on the bounded grid; the
    cohort-size join broadcasts. §2.B window family [NS].
    """
    o = load(spark, sf_dir, "orders")
    om = o.groupBy(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("ym"),
    ).agg(F.sum(dec("o_totalprice")).cast("double").alias("rev"))
    # checkpointed once (r6): the cohort map (itself consumed twice) and
    # the aged join each re-derived the rollup (3 orders scans in the
    # plan); the ≤|customers|×|months| grid materializes once (state
    # linear in the customer domain — the q_slope_one posting-list class)
    om = om.localCheckpoint(eager=True)
    first = om.groupBy("o_custkey").agg(F.min("ym").alias("cohort"))
    sz = first.groupBy("cohort").agg(bcount("cohort_size"))
    aged = (
        om.join(first, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("ym") * 12 + F.month("ym"))
                - (F.year("cohort") * 12 + F.month("cohort"))
            )
            .cast("bigint")
            .alias("age"),
        )
        .agg(
            F.sum(F.col("rev").cast("decimal(38,10)"))
            .cast("double")
            .alias("rev")
        )
    )
    wcum = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = aged.select(
        "cohort",
        "age",
        F.sum(F.col("rev").cast("decimal(38,10)"))
        .over(wcum)
        .cast("double")
        .alias("cum_rev"),
    )
    return (
        cum.join(F.broadcast(sz), "cohort")
        .filter(F.col("age") <= 6)
        .select(
            F.col("cohort").alias("cohort_month"),
            "age",
            F.round("cum_rev", 2).alias("cum_revenue"),
            # truncate, don't round: exact cents / small cohort sizes land
            # exactly ON round-half boundaries where the engines' rounding
            # algorithms disagree; floor acts on the identical double
            (F.floor(F.col("cum_rev") / F.col("cohort_size") * 10000.0)
             / 10000.0).alias("cum_rev_per_customer"),
        )
        .orderBy("cohort_month", "age")
    )
