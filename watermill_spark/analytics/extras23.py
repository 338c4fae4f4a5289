"""Analytics batch 31: heavy tails, mobility & serial dependence — Hill
tail-index estimator, customer spend-quintile migration matrix, trade-graph
degree assortativity, and a multi-lag daily-revenue autocorrelation sweep.

Determinism: the Hill sum and ACF/assortativity moments follow the
established rules — bounded log-term sums ride per-term decimal casts (the
entropy idiom), wide-decimal second moments for revenue products (the
Bollinger idiom), pure-integer moments for degrees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import dec
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register


@register(
    "q_hill_tail_index",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s
      FROM orders GROUP BY 1
    ),
    top AS (
      SELECT o_custkey, s FROM spend
      ORDER BY s DESC, o_custkey LIMIT 101
    ),
    w AS (
      SELECT o_custkey, s, MIN(s) OVER () AS xk1 FROM top
    ),
    t AS (
      SELECT COUNT(*) AS k,
             CAST(MAX(CAST(xk1 AS DOUBLE)) AS DOUBLE) AS xk1,
             CAST(SUM(CAST(ln(CAST(s AS DOUBLE) / CAST(xk1 AS DOUBLE))
                           AS DECIMAL(18,12))) AS DOUBLE) AS lnsum
      FROM w WHERE s > xk1
    )
    SELECT CAST(k AS BIGINT) AS k,
           round(xk1, 4) AS threshold_spend,
           round(CAST(k AS DOUBLE) / lnsum, 6) AS hill_alpha
    FROM t
    """,
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the customer-spend tail exponent: over the top-100
    spenders (relative to the 101st as threshold), α̂ = k / Σ ln(x_i/x_k+1)
    — the standard heavy-tail diagnostic (α ≈ 1–2 ⇒ whale-dominated
    revenue; moments may not exist).

    The top-(k+1) set comes from ORDER BY exact-decimal spend with a
    custkey tiebreak (TakeOrderedAndProject); ln terms are per-row doubles
    cast to DECIMAL(18,12) before the 100-term sum so addition order is
    irrelevant (rows with s == threshold are excluded on both engines
    identically — exact decimal comparison).

    Scale: one fact shuffle to |customers|, then a local top-101; the Hill
    window/aggregate runs on 101 rows. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(F.sum(dec("o_totalprice")).alias("s"))
    top = spend.orderBy(F.col("s").desc(), "o_custkey").limit(101)
    w = top.select("s", F.min("s").over(Window.partitionBy(F.lit(1))).alias("xk1"))
    t = w.filter(F.col("s") > F.col("xk1")).agg(
        F.count(F.lit(1)).alias("k"),
        F.max(F.col("xk1").cast("double")).alias("xk1d"),
        F.sum(
            F.log(F.col("s").cast("double") / F.col("xk1").cast("double")).cast(
                "decimal(18,12)"
            )
        )
        .cast("double")
        .alias("lnsum"),
    )
    return t.select(
        F.col("k").cast("bigint").alias("k"),
        F.round("xk1d", 4).alias("threshold_spend"),
        F.round(F.col("k").cast("double") / F.col("lnsum"), 6).alias("hill_alpha"),
    )


@register(
    "q_quintile_migration",
    oracle="""
    WITH yr AS (
      SELECT MIN(year(o_orderdate)) AS y0, MAX(year(o_orderdate)) AS y1
      FROM orders
    ),
    per AS (
      SELECT o_custkey, year(o_orderdate) AS y,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s
      FROM orders, yr
      WHERE year(o_orderdate) IN (yr.y0, yr.y1)
      GROUP BY 1, 2
    ),
    q AS (
      SELECT o_custkey, y,
             ntile(5) OVER (PARTITION BY y ORDER BY s DESC, o_custkey) AS qt
      FROM per
    ),
    m AS (
      SELECT a.qt AS q_old, b.qt AS q_new
      FROM q a JOIN q b ON a.o_custkey = b.o_custkey
      JOIN yr ON a.y = yr.y0 AND b.y = yr.y1
    ),
    c AS (
      SELECT q_old, q_new, COUNT(*) AS n FROM m GROUP BY 1, 2
    ),
    t AS (
      SELECT q_old, q_new, n, SUM(n) OVER (PARTITION BY q_old) AS n_old
      FROM c
    )
    SELECT CAST(q_old AS BIGINT) AS q_old,
           CAST(q_new AS BIGINT) AS q_new,
           CAST(n AS BIGINT) AS n_customers,
           round(CAST(n AS DOUBLE) / n_old, 6) AS share_of_old
    FROM t
    """,
)
def q_quintile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer mobility: the spend-quintile transition matrix between the
    dataset's first and last year (quintile 1 = top spenders of that year).
    Row-normalized shares answer "of last decade's whales, how many are
    still whales?"

    ntile per year under a total order makes bucket assignment
    engine-identical; the matrix is a self-join of the two year slices on
    custkey.

    Scale: per-(customer, year) rollup is one fact shuffle; the two ntile
    sorts run per year-partition over |active customers| (the documented
    100-TB swap is approx-quantile boundaries, as q_decile_lift); the
    transition join is keyed on custkey. The min/max-year bounds ride a
    broadcast 1-row cross join (one Spark job, no driver collect). §2.B
    [NS].
    """
    orders = load(spark, sf_dir, "orders")
    yy = orders.agg(
        F.min(F.year("o_orderdate")).alias("y0"),
        F.max(F.year("o_orderdate")).alias("y1"),
    )
    per = (
        orders.crossJoin(F.broadcast(yy))
        .withColumn("y", F.year("o_orderdate"))
        .filter((F.col("y") == F.col("y0")) | (F.col("y") == F.col("y1")))
        .groupBy("o_custkey", "y", "y0", "y1")
        .agg(F.sum(dec("o_totalprice")).alias("s"))
    )
    # checkpointed once (r6): the old- and new-year quintile slices each
    # re-derived the per-customer rollup + ntile window from the fact
    # (4 orders scans in the plan); the ranked two-year grid materializes
    # once (the year-bound probe stays the one other scan)
    q = per.select(
        "o_custkey",
        "y",
        "y0",
        "y1",
        F.ntile(5)
        .over(Window.partitionBy("y").orderBy(F.col("s").desc(), "o_custkey"))
        .alias("qt"),
    ).localCheckpoint(eager=True)
    a = q.filter(F.col("y") == F.col("y0")).select(
        "o_custkey", F.col("qt").alias("q_old")
    )
    b = q.filter(F.col("y") == F.col("y1")).select(
        "o_custkey", F.col("qt").alias("q_new")
    )
    c = a.join(b, "o_custkey").groupBy("q_old", "q_new").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.select(
        "*", F.sum("n").over(Window.partitionBy("q_old")).alias("n_old")
    )
    return t.select(
        F.col("q_old").cast("bigint").alias("q_old"),
        F.col("q_new").cast("bigint").alias("q_new"),
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(F.col("n").cast("double") / F.col("n_old"), 6).alias(
            "share_of_old"
        ),
    )


@register(
    "q_degree_assortativity",
    oracle=f"""
    WITH wpair AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b, SUM(w) AS w
      FROM ({NATION_TRADE_EDGES_SQL})
      GROUP BY 1, 2
    ),
    und AS (
      SELECT a, b FROM wpair ORDER BY w DESC, a, b LIMIT 100
    ),
    sym AS (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY 1),
    e AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM sym
      JOIN deg du ON du.node = sym.u
      JOIN deg dv ON dv.node = sym.v
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(dx) AS sx, SUM(dy) AS sy,
             SUM(dx * dy) AS sxy, SUM(dx * dx) AS sx2, SUM(dy * dy) AS sy2
      FROM e
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           round(CASE WHEN (CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                           * (CAST(n AS DOUBLE) * sy2
                              - CAST(sy AS DOUBLE) * sy) = 0 THEN NULL
                 ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                      / sqrt((CAST(n AS DOUBLE) * sx2
                              - CAST(sx AS DOUBLE) * sx)
                             * (CAST(n AS DOUBLE) * sy2
                                - CAST(sy AS DOUBLE) * sy)) END,
                 6) AS assortativity
    FROM m
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph's top-100 strongest edges
    (nation pairs ranked by lineitem volume): Pearson correlation of
    endpoint degrees over directed edge instances — negative ⇒ hubs link
    to low-degree nations. The volume threshold keeps the subgraph sparse
    at every SF (the full 25-nation graph saturates to a clique, where
    degree variance is zero and assortativity is undefined — in that
    degenerate case both engines return NULL via the guard).

    Degrees are integers; all five moments are exact BIGINT sums over the
    symmetrized edge list; only the final correlation is double.

    Scale: after the one fact pass collapses to the ≤|nations|² weighted
    pair set, the top-100 is a local TakeOrdered and both degree joins
    broadcast; moments reduce to one row. §2.B [NS].
    """
    und = (
        nation_trade_edges(spark, sf_dir)
        .groupBy(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .agg(F.sum("w").alias("w"))
        .orderBy(F.col("w").desc(), "a", "b")
        .limit(100)
        .select("a", "b")
        # checkpointed once (r6): sym (×2) and both degree-join sides each
        # re-derived the 4-table fact join + top-100 (6 lineitem scans in
        # the plan); the ≤100-row edge set materializes once
        .localCheckpoint(eager=True)
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    e = sym.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    m = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sx2"),
        F.sum(F.col("dy") * F.col("dy")).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    denom = (nd * F.col("sx2") - sxd * F.col("sx")) * (
        nd * F.col("sy2") - syd * F.col("sy")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_directed_edges"),
        F.round(
            F.when(denom == 0, F.lit(None)).otherwise(
                (nd * F.col("sxy") - sxd * F.col("sy")) / F.sqrt(denom)
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "q_acf_daily_revenue",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT day, rev,
             lead(rev, 1) OVER (ORDER BY day) AS r1,
             lead(rev, 2) OVER (ORDER BY day) AS r2,
             lead(rev, 3) OVER (ORDER BY day) AS r3,
             lead(rev, 4) OVER (ORDER BY day) AS r4,
             lead(rev, 5) OVER (ORDER BY day) AS r5,
             lead(rev, 6) OVER (ORDER BY day) AS r6,
             lead(rev, 7) OVER (ORDER BY day) AS r7
      FROM d
    ),
    u AS (
      SELECT 1 AS lag, rev AS x, r1 AS y FROM l WHERE r1 IS NOT NULL
      UNION ALL SELECT 2, rev, r2 FROM l WHERE r2 IS NOT NULL
      UNION ALL SELECT 3, rev, r3 FROM l WHERE r3 IS NOT NULL
      UNION ALL SELECT 4, rev, r4 FROM l WHERE r4 IS NOT NULL
      UNION ALL SELECT 5, rev, r5 FROM l WHERE r5 IS NOT NULL
      UNION ALL SELECT 6, rev, r6 FROM l WHERE r6 IS NOT NULL
      UNION ALL SELECT 7, rev, r7 FROM l WHERE r7 IS NOT NULL
    ),
    m AS (
      SELECT lag, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,6))) AS sx,
             SUM(CAST(y AS DECIMAL(38,6))) AS sy,
             SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(38,6))) AS sx2,
             SUM(CAST(y * y AS DECIMAL(38,6))) AS sy2
      FROM u GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS acf
    FROM m
    """,
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation sweep of daily order revenue at lags 1–7 — weekly
    periodicity shows as an ACF spike at lag 7 (extends lag-1
    q_hourly_autocorr the way the CCF query extends a single lag: one
    lead-window pass, stack unpivot, per-lag exact moments).

    Revenue products ride DECIMAL(38,6) (the Bollinger overflow rule);
    only the final Pearson ratio is double.

    Scale: fact → |days| grid; the lead window is a single calendar-bounded
    pass; 7 lags multiply grid rows, not cardinality. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).cast("double").alias("rev")
    )
    wd = Window.orderBy("day")
    led = d.select(
        "rev",
        *[F.lead("rev", i).over(wd).alias(f"r{i}") for i in range(1, 8)],
    )
    stack_args = ", ".join(f"{i}, r{i}" for i in range(1, 8))
    u = led.selectExpr(
        f"stack(7, {stack_args}) AS (lag, y)", "rev AS x"
    ).filter(F.col("y").isNotNull())
    d38 = "decimal(38,6)"
    m = u.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sx2"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (nd * F.col("sxy").cast("double") - sxd * syd)
            / F.sqrt(
                (nd * F.col("sx2").cast("double") - sxd * sxd)
                * (nd * F.col("sy2").cast("double") - syd * syd)
            ),
            6,
        ).alias("acf"),
    )
