"""Analytics batch 168: percolation threshold sweep, Huber IRLS robust
regression, and the concentration curve/index.

Percolation asks how the trade graph falls apart as weak links are
pruned — the robustness sweep (giant-component share vs edge-weight
threshold) that complements the static connectivity family
(q_dedup_connected_components, q_kcore_trade). Huber IRLS is the
workhorse robust trend fit: OLS efficiency on clean data, bounded
influence on contaminated days (between OLS and the median-based
q_theil_sen_trend / q_siegel_repeated_medians). The concentration
index is the health-economics inequality measure: spending ranked by a
DIFFERENT variable (account balance) — Lorenz/Gini ask "is spend
unequal?", concentration asks "is it unequal WITH RESPECT TO wealth?".

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B graph/regression/aggregation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue

_PERC_ROUNDS = 6
_FRACS = [0.01, 0.05, 0.1, 0.25, 0.5]

_PERC_STEP_SQL = """
      SELECT l.t, l.node,
             CAST(LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS BIGINT)
               AS lbl
      FROM {prev} l
      LEFT JOIN kept k ON k.t = l.t AND k.b = l.node
      LEFT JOIN {prev} n ON n.t = k.t AND n.node = k.a
      GROUP BY l.t, l.node, l.lbl
"""

_HUB_ROUNDS = 3


@register(
    "q_percolation_threshold",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    sym AS (
      SELECT a, b, CAST(SUM(w) AS BIGINT) AS s
      FROM (SELECT src AS a, dst AS b, w FROM edges
            UNION ALL SELECT dst, src, w FROM edges)
      GROUP BY 1, 2
    ),
    mx AS (SELECT CAST(MAX(s) AS DOUBLE) AS ms FROM sym),
    fracs AS (SELECT CAST(f AS DOUBLE) AS t
              FROM (VALUES {", ".join(f"({f})" for f in _FRACS)}) AS v(f)),
    kept AS (
      SELECT fr.t, sym.a, sym.b
      FROM sym, fracs fr, mx
      WHERE CAST(sym.s AS DOUBLE) >= fr.t * mx.ms
    ),
    active AS (
      SELECT DISTINCT t, a AS node FROM kept
    ),
    l0 AS (SELECT t, node, CAST(node AS BIGINT) AS lbl FROM active),
    {",".join(f"l{k + 1} AS MATERIALIZED ({_PERC_STEP_SQL.format(prev=f'l{k}')})" for k in range(_PERC_ROUNDS))},
    comps AS (
      SELECT t, lbl, CAST(COUNT(*) AS BIGINT) AS sz
      FROM l{_PERC_ROUNDS} GROUP BY 1, 2
    )
    SELECT c.t AS weight_frac,
           CAST((SELECT COUNT(*) / 2 FROM kept k WHERE k.t = c.t)
                AS BIGINT) AS n_edges_kept,
           CAST(SUM(c.sz) AS BIGINT) AS n_active_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           round(CAST(MAX(c.sz) AS DOUBLE) / SUM(c.sz), 6)
             AS giant_share
    FROM comps c GROUP BY c.t ORDER BY c.t
    """,
)
def q_percolation_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond-percolation sweep of the symmetrized trade graph: edges
    below t·max_weight are pruned for t ∈ {0.01..0.5}, connected
    components come from 6 min-label propagation rounds (≥ the graph
    diameter), and the report tracks edges kept, component count, and
    the giant-component share — where giant_share collapses is the
    percolation threshold, i.e. how much of world trade rides on the
    thin links.

    All five thresholds share ONE plan by keying every stage
    (pruning, labels, components) on the threshold dimension.

    Determinism: weights and labels are integers; min-label
    propagation is order-free.

    Scale: the sweep runs on the collapsed ≤|nations|² edge list; each
    round is a keyed equi-join + min-groupBy on it (lineage truncated
    per round). §2.B graph family [NS].
    """
    edges = nation_trade_edges(spark, sf_dir)
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), "w")
        .unionAll(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"), "w")
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("bigint").alias("s"))
    )
    mx = sym.agg(F.max("s").cast("double").alias("ms"))
    fracs = spark.createDataFrame([(f,) for f in _FRACS], "t double")
    kept = (
        sym.crossJoin(F.broadcast(fracs))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("s").cast("double") >= F.col("t") * F.col("ms"))
        .select("t", "a", "b")
    ).localCheckpoint(eager=True)
    lbl = (
        kept.select("t", F.col("a").alias("node"))
        .distinct()
        .select("t", "node", F.col("node").cast("bigint").alias("lbl"))
    )
    nbr = kept.select(
        F.col("t").alias("kt"), F.col("a").alias("ka"), F.col("b").alias("kb")
    )
    for _ in range(_PERC_ROUNDS):
        lbl = (
            lbl.join(
                F.broadcast(nbr),
                (F.col("kt") == F.col("t")) & (F.col("kb") == F.col("node")),
                "left",
            )
            .join(
                F.broadcast(
                    lbl.select(
                        F.col("t").alias("nt"),
                        F.col("node").alias("nn"),
                        F.col("lbl").alias("nlbl"),
                    )
                ),
                (F.col("nt") == F.col("t")) & (F.col("nn") == F.col("ka")),
                "left",
            )
            .groupBy("t", "node", "lbl")
            .agg(
                F.least(
                    F.col("lbl"),
                    F.coalesce(F.min("nlbl"), F.col("lbl")),
                )
                .cast("bigint")
                .alias("lbl2")
            )
            .select("t", "node", F.col("lbl2").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    comps = lbl.groupBy("t", "lbl").agg(bcount("sz"))
    ekept = kept.groupBy("t").agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges_kept")
    )
    return (
        comps.groupBy("t")
        .agg(
            F.sum("sz").cast("bigint").alias("n_active_nodes"),
            bcount("n_components"),
            F.round(
                F.max("sz").cast("double") / F.sum("sz"), 6
            ).alias("giant_share"),
        )
        .join(F.broadcast(ekept), "t")
        .select(
            F.col("t").alias("weight_frac"),
            "n_edges_kept",
            "n_active_nodes",
            "n_components",
            "giant_share",
        )
        .orderBy("weight_frac")
    )


_HUB_FIT_SQL = """
      SELECT CAST(SUM(CAST(w AS DECIMAL(38,15))) AS DOUBLE) AS sw,
             CAST(SUM(CAST(w * x AS DECIMAL(38,10))) AS DOUBLE) AS swx,
             CAST(SUM(CAST(w * y AS DECIMAL(38,10))) AS DOUBLE) AS swy,
             CAST(SUM(CAST(w * x * x AS DECIMAL(38,10))) AS DOUBLE)
               AS swxx,
             CAST(SUM(CAST(w * x * y AS DECIMAL(38,10))) AS DOUBLE)
               AS swxy
      FROM {src}
"""


@register(
    "q_huber_regression_irls",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    pts AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS x
      FROM daily
    ),
    w0 AS (SELECT x, y, CAST(1.0 AS DOUBLE) AS w FROM pts),
    m0 AS ({_HUB_FIT_SQL.format(src="w0")}),
    f0 AS (
      SELECT (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b,
             (swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
              * swx) / sw AS a
      FROM m0
    ),
    scale AS (
      SELECT 1.345 * sqrt(
               CAST(SUM(CAST((p.y - f.a - f.b * p.x)
                             * (p.y - f.a - f.b * p.x)
                             AS DECIMAL(38,10))) AS DOUBLE)
               / (COUNT(*) - 2)) AS k
      FROM pts p, f0 f GROUP BY f.a, f.b
    ),
    {",".join(
        f'''w{r + 1} AS MATERIALIZED (
      SELECT p.x, p.y,
             LEAST(1.0, s.k / NULLIF(abs(p.y - f{r}.a - f{r}.b * p.x),
                                     0.0)) AS w
      FROM pts p, f{r}, scale s
    ),
    m{r + 1} AS ({_HUB_FIT_SQL.format(src=f'w{r + 1}')}),
    f{r + 1} AS (
      SELECT (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b,
             (swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
              * swx) / sw AS a
      FROM m{r + 1}
    )''' for r in range(_HUB_ROUNDS))}
    SELECT CAST((SELECT COUNT(*) FROM pts) AS BIGINT) AS n_days,
           round((SELECT b FROM f0), 6) AS beta_ols,
           round((SELECT b FROM f{_HUB_ROUNDS}), 6) AS beta_huber,
           round((SELECT a FROM f{_HUB_ROUNDS}), 4) AS intercept_huber,
           CAST((SELECT SUM(CASE WHEN w < 1.0 THEN 1 ELSE 0 END)
                 FROM w{_HUB_ROUNDS}) AS BIGINT) AS n_downweighted
    """,
)
def q_huber_regression_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber robust trend regression via 3 IRLS rounds: start at OLS,
    set the Huber tuning k = 1.345·σ̂ from the OLS residuals, then
    iterate weighted OLS with w = min(1, k/|e|) — bounded influence for
    outlier days at ~95% OLS efficiency on clean data, the middle
    ground between q_ols_daily_trend and the median-based
    q_theil_sen_trend; reports how many days were downweighted.

    Determinism: every weighted moment is a decimal-exact sum; the
    fits are fixed double expressions; the round count is fixed so both
    engines run the identical finite recursion (chained MATERIALIZED
    CTEs mirror the Spark loop).

    Scale: facts collapse to the day grid; each round is one 1-row
    aggregate + a broadcast of the 1-row fit back onto the grid
    (whitelisted). §2.B regression family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    pts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).cast("double").alias("x")
    ).localCheckpoint(eager=True)

    def fit(wdf: DataFrame) -> DataFrame:
        m = wdf.agg(
            F.sum(F.col("w").cast(D15)).cast("double").alias("sw"),
            F.sum((F.col("w") * F.col("x")).cast("decimal(38,10)"))
            .cast("double")
            .alias("swx"),
            F.sum((F.col("w") * F.col("y")).cast("decimal(38,10)"))
            .cast("double")
            .alias("swy"),
            F.sum(
                (F.col("w") * F.col("x") * F.col("x")).cast("decimal(38,10)")
            )
            .cast("double")
            .alias("swxx"),
            F.sum(
                (F.col("w") * F.col("x") * F.col("y")).cast("decimal(38,10)")
            )
            .cast("double")
            .alias("swxy"),
        )
        b = (F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy")) / (
            F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
        )
        return m.select(
            b.alias("b"),
            ((F.col("swy") - b * F.col("swx")) / F.col("sw")).alias("a"),
        )

    w = pts.select("x", "y", F.lit(1.0).alias("w"))
    f0 = fit(w)
    resid = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    scale = (
        pts.crossJoin(F.broadcast(f0))
        .agg(
            (
                F.lit(1.345)
                * F.sqrt(
                    F.sum((resid * resid).cast("decimal(38,10)")).cast(
                        "double"
                    )
                    / (F.count(F.lit(1)) - 2)
                )
            ).alias("k")
        )
    )
    f = f0
    wdf = w
    for _ in range(_HUB_ROUNDS):
        wdf = (
            pts.crossJoin(F.broadcast(f))
            .crossJoin(F.broadcast(scale))
            .select(
                "x",
                "y",
                F.least(
                    F.lit(1.0),
                    F.col("k") / F.nullif(F.abs(resid), F.lit(0.0)),
                ).alias("w"),
            )
        )
        f = fit(wdf)
    n = pts.agg(bcount("n_days"))
    ndw = wdf.agg(
        F.sum(F.when(F.col("w") < 1.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_downweighted")
    )
    return (
        n.crossJoin(F.broadcast(f0.select(F.col("b").alias("beta_ols"))))
        .crossJoin(F.broadcast(f))
        .crossJoin(F.broadcast(ndw))
        .select(
            "n_days",
            F.round("beta_ols", 6).alias("beta_ols"),
            F.round("b", 6).alias("beta_huber"),
            F.round("a", 4).alias("intercept_huber"),
            "n_downweighted",
        )
    )


@register(
    "q_concentration_curve",
    oracle="""
    WITH spend AS (
      SELECT c.c_custkey, c.c_acctbal,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey)
                  AS BIGINT) AS r,
             CAST(NTILE(5) OVER (ORDER BY c_acctbal, c_custkey)
                  AS BIGINT) AS q
      FROM spend
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(y * r AS DECIMAL(38,6))) AS DOUBLE) AS syr
      FROM ranked
    ),
    quint AS (
      SELECT q, CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS qy
      FROM ranked GROUP BY 1
    )
    SELECT qu.q AS balance_quintile,
           round(qu.qy / t.sy * 100.0, 4) AS spend_share_pct,
           round(CAST(SUM(CAST(qu.qy AS DECIMAL(38,10)))
                 OVER (ORDER BY qu.q ROWS UNBOUNDED PRECEDING)
                 AS DOUBLE) / t.sy * 100.0, 4) AS cum_share_pct,
           round(2.0 * t.syr / (t.n * t.sy) - (t.n + 1.0) / t.n, 6)
             AS concentration_index
    FROM quint qu, tot t
    ORDER BY qu.q
    """,
)
def q_concentration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration curve and index: customer order spend ranked by
    ACCOUNT BALANCE (not by spend) — quintile and cumulative spend
    shares plus the concentration index C = 2·Σy_i·r_i/(n·Σy) −
    (n+1)/n; C > 0 means spend concentrates among high-balance
    customers. The Lorenz/Gini pair (q_lorenz_curve,
    q_gini_customer_spend) measures inequality in spend itself; the
    concentration index measures its gradient with respect to a second
    dimension — the wealth-gradient question.

    Determinism: ranks and quintiles carry custkey tiebreaks; all sums
    route through DECIMAL.

    Scale: one fact rollup to the customer grain, one rank window,
    one 5-row pivot with a 1-row total broadcast (whitelisted). §2.B
    window family [NS].
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("y"))
        # checkpointed once (r6): the Gini moments and the quintile sums
        # both re-derived the join+rollup (2 orders scans in the plan);
        # the customer-domain grid materializes once
        .localCheckpoint(eager=True)
    )
    wrank = Window.orderBy("c_acctbal", "c_custkey")
    ranked = spend.select(
        "y",
        F.row_number().over(wrank).cast("bigint").alias("r"),
        F.ntile(5).over(wrank).cast("bigint").alias("q"),
    )
    tot = ranked.agg(
        bcount("n"),
        F.sum(F.col("y").cast("decimal(38,10)")).cast("double").alias("sy"),
        F.sum((F.col("y") * F.col("r")).cast("decimal(38,6)"))
        .cast("double")
        .alias("syr"),
    )
    quint = ranked.groupBy("q").agg(
        F.sum(F.col("y").cast("decimal(38,10)")).cast("double").alias("qy")
    )
    wcum = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    return (
        quint.crossJoin(F.broadcast(tot))
        .select(
            F.col("q").alias("balance_quintile"),
            F.round(F.col("qy") / F.col("sy") * 100.0, 4).alias(
                "spend_share_pct"
            ),
            F.round(
                F.sum(F.col("qy").cast("decimal(38,10)"))
                .over(wcum)
                .cast("double")
                / F.col("sy")
                * 100.0,
                4,
            ).alias("cum_share_pct"),
            F.round(
                2.0 * F.col("syr") / (F.col("n") * F.col("sy"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("concentration_index"),
        )
        .orderBy("balance_quintile")
    )
