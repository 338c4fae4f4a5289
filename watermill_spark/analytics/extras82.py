"""Analytics batch 90: the small-world coefficient of the trade graph
(clustering and path length against their random-graph expectations),
token trend velocity between corpus halves, and fixed-effect
meta-analysis of the arm effect across event types with Cochran's Q and
I² heterogeneity.

Meta-analysis is the "combine many small answers into one" operator —
inverse-variance pooling with an explicit heterogeneity audit — the
statistically honest alternative to just averaging subgroup effects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval
from .registry import load, register
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .extras50 import _APSP_STEP_SQL


@register(
    "q_smallworld_sigma",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    und AS (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges GROUP BY 1, 2
    ),
    nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
    -- triangles / wedges on the undirected simple graph
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und) x
      GROUP BY node
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM und e1 JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    wedges AS (
      SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedge FROM deg
    ),
    -- all-pairs shortest paths over the directed graph (3 rounds)
    d0 AS (
      SELECT node AS s, node, CAST(0 AS BIGINT) AS dist FROM nodes
    ),
    d1 AS ({_APSP_STEP_SQL.format(prev="d0")}),
    d2 AS ({_APSP_STEP_SQL.format(prev="d1")}),
    d3 AS ({_APSP_STEP_SQL.format(prev="d2")}),
    plen AS (
      SELECT CAST(SUM(dist) AS BIGINT) AS sum_d,
             CAST(COUNT(*) FILTER (WHERE dist > 0) AS BIGINT) AS n_pairs
      FROM d3
    )
    SELECT nn.n AS n_nodes, mm.m AS n_und_edges,
           round(3.0 * tri.n_tri / wedges.n_wedge, 6) AS clustering_c,
           round(CAST(plen.sum_d AS DOUBLE) / plen.n_pairs, 6) AS avg_path_l,
           round(2.0 * mm.m / nn.n / (nn.n - 1), 6) AS c_random,
           round(ln(CAST(nn.n AS DOUBLE))
                 / ln(2.0 * mm.m / nn.n), 6) AS l_random,
           round((3.0 * tri.n_tri / wedges.n_wedge)
                 / (2.0 * mm.m / nn.n / (nn.n - 1))
                 / ((CAST(plen.sum_d AS DOUBLE) / plen.n_pairs)
                    / (ln(CAST(nn.n AS DOUBLE)) / ln(2.0 * mm.m / nn.n))), 4)
             AS smallworld_sigma
    FROM nn, mm, tri, wedges, plen
    """,
)
def q_smallworld_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-world coefficient σ = (C/C_rand)/(L/L_rand) of the trade
    graph: global clustering (3·triangles/wedges on the undirected simple
    graph) and mean shortest path (3-round APSP) against the
    Erdős–Rényi expectations C_rand = 2m/(n(n−1)) and L_rand = ln n /
    ln k̄ — σ ≫ 1 is the Watts–Strogatz small-world signature (clustered
    like a lattice, short like a random graph), composing the engine's
    triangle and BFS machinery into the canonical network-science
    summary.

    Determinism: triangles, wedges, and path sums are exact integers;
    the random-graph baselines are fixed-shape double algebra (identical
    trees both engines).

    Scale: the census runs entirely on the collapsed ≤|nations|² edge
    list; APSP is the q_harmonic_centrality loop. §2.B [NS].
    """
    edges = nation_trade_edges(spark, sf_dir).select("src", "dst").localCheckpoint(eager=True)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = und.select(F.col("a").alias("node")).union(und.select("b")).distinct()
    nn = nodes.agg(bcount("n"))
    mm = und.agg(bcount("m"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(bcount("d"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e2.a") == F.col("e1.a")) & (F.col("e2.b") > F.col("e1.b")),
        )
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(bcount("n_tri"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedge")
    )
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
    plen = dist.agg(
        F.sum("dist").cast("bigint").alias("sum_d"),
        F.count_if(F.col("dist") > 0).cast("bigint").alias("n_pairs"),
    )
    s = (
        nn.crossJoin(mm)
        .crossJoin(tri)
        .crossJoin(wedges)
        .crossJoin(plen)
    )
    c_obs = F.lit(3.0) * F.col("n_tri") / F.col("n_wedge")
    c_rand = F.lit(2.0) * F.col("m") / F.col("n") / (F.col("n") - 1)
    l_obs = F.col("sum_d").cast("double") / F.col("n_pairs")
    l_rand = F.log(F.col("n").cast("double")) / F.log(
        F.lit(2.0) * F.col("m") / F.col("n")
    )
    return s.select(
        F.col("n").alias("n_nodes"),
        F.col("m").alias("n_und_edges"),
        F.round(c_obs, 6).alias("clustering_c"),
        F.round(l_obs, 6).alias("avg_path_l"),
        F.round(c_rand, 6).alias("c_random"),
        F.round(l_rand, 6).alias("l_random"),
        F.round((c_obs / c_rand) / (l_obs / l_rand), 4).alias(
            "smallworld_sigma"
        ),
    )


@register(
    "q_trending_tokens",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MAX(doc_id) AS BIGINT) / 2 AS mid FROM documents
    ),
    tok AS (
      SELECT CASE WHEN d.doc_id <= b.mid THEN 0 ELSE 1 END AS half,
             UNNEST(string_split(d.text, ' ')) AS t
      FROM documents d, bounds b
    ),
    clean AS (SELECT half, t FROM tok WHERE t <> ''),
    halves AS (
      SELECT half, CAST(COUNT(*) AS BIGINT) AS n FROM clean GROUP BY half
    ),
    tc AS (
      SELECT t,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c0,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1
      FROM clean GROUP BY t
      HAVING SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
             + SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) >= 20
    ),
    scored AS (
      SELECT t, c0, c1,
             (CAST(c1 AS DOUBLE) + 1)
             / (SELECT n FROM halves WHERE half = 1)
             / ((CAST(c0 AS DOUBLE) + 1)
                / (SELECT n FROM halves WHERE half = 0)) AS velocity
      FROM tc
    )
    SELECT t AS token, c0 AS count_first_half, c1 AS count_second_half,
           round(velocity, 6) AS rate_ratio
    FROM scored
    ORDER BY velocity DESC, t
    LIMIT 10
    """,
)
def q_trending_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token trend velocity: split the corpus at the median doc_id (the
    ingest-order proxy), compute each token's add-1-smoothed rate ratio
    second-half/first-half (min 20 total occurrences), top-10 risers —
    the trending-terms detector every content pipeline runs (and the
    batch twin of a streaming frequency-drift monitor); smoothing keeps
    new-in-second-half tokens finite, the support floor keeps noise out.

    Determinism: counts exact; the rate ratio is a fixed-shape
    expression of integers; top-10 tiebreaks on token.

    Scale: one tokenize pass with a broadcast 1-row split point; the
    scoring runs on the token vocabulary. §2.B text surface [NS].
    """
    docs = load(spark, sf_dir, "documents")
    bounds = docs.agg(
        (F.max("doc_id").cast("bigint") / 2).cast("bigint").alias("mid")
    )
    tok = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.when(F.col("doc_id") <= F.col("mid"), 0).otherwise(1).alias("half"),
            F.explode(F.split("text", " ")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    # ONE tokenize pass (r6): the per-token half-counts grid is computed
    # once; half totals are its column sums (identical integers), so the
    # halves pass no longer re-tokenizes the corpus
    g = (
        tok.groupBy("t")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("c0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
        )
        .localCheckpoint(eager=True)
    )
    tots = g.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
    )
    n0 = tots.select("n0")
    n1 = tots.select("n1")
    tc = g.filter(F.col("c0") + F.col("c1") >= 20)
    scored = tc.crossJoin(F.broadcast(n0)).crossJoin(F.broadcast(n1)).select(
        "t",
        "c0",
        "c1",
        (
            (F.col("c1").cast("double") + 1)
            / F.col("n1")
            / ((F.col("c0").cast("double") + 1) / F.col("n0"))
        ).alias("velocity"),
    )
    return (
        scored.select(
            F.col("t").alias("token"),
            F.col("c0").alias("count_first_half"),
            F.col("c1").alias("count_second_half"),
            F.round("velocity", 6).alias("rate_ratio"),
        )
        .orderBy(F.col("rate_ratio").desc(), "token")
        .limit(10)
    )


@register(
    "q_meta_analysis",
    oracle=f"""
    WITH scored AS (
      SELECT event_type,
             CASE WHEN {sql_hexval("substr(md5('ma1:' || CAST(user_id AS VARCHAR)), 1, 1)")}
               % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             value
      FROM events
    ),
    per_study AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n2,
             CAST(SUM(CAST(CASE WHEN arm = 'A' THEN value END
                      AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CASE WHEN arm = 'B' THEN value END
                      AS DECIMAL(18,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(CASE WHEN arm = 'A' THEN value * value END
                      AS DECIMAL(28,6))) AS DOUBLE) AS q1,
             CAST(SUM(CAST(CASE WHEN arm = 'B' THEN value * value END
                      AS DECIMAL(28,6))) AS DOUBLE) AS q2
      FROM scored GROUP BY event_type
    ),
    effects AS (
      SELECT event_type,
             s2 / n2 - s1 / n1 AS eff,
             (q1 / n1 - (s1 / n1) * (s1 / n1)) / n1
             + (q2 / n2 - (s2 / n2) * (s2 / n2)) / n2 AS var_eff
      FROM per_study
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(eff / var_eff AS DECIMAL(28,12))) AS DOUBLE)
               AS sw_eff,
             CAST(SUM(CAST(1.0 / var_eff AS DECIMAL(28,12))) AS DOUBLE)
               AS sw
      FROM effects
    ),
    qstat AS (
      SELECT CAST(SUM(CAST(
               (e.eff - p.sw_eff / p.sw) * (e.eff - p.sw_eff / p.sw)
               / e.var_eff AS DECIMAL(28,12))) AS DOUBLE) AS q_cochran,
             MAX(p.k) AS k
      FROM effects e, pooled p
    )
    SELECT q.k AS n_studies,
           round((SELECT sw_eff / sw FROM pooled), 6) AS pooled_effect,
           round(sqrt(1.0 / (SELECT sw FROM pooled)), 6) AS pooled_se,
           round(q.q_cochran, 6) AS cochran_q,
           round(GREATEST(0.0, (q.q_cochran - (q.k - 1)) / q.q_cochran),
                 6) AS i_squared
    FROM qstat q
    """,
)
def q_meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis of the arm effect on event value across
    the five event types ("studies"): inverse-variance pooled effect and
    SE, Cochran's Q heterogeneity, and I² = max(0, (Q−df)/Q) — the
    statistically honest way to combine subgroup effects (a plain average
    ignores precision; I² says whether one pooled number is even
    defensible), completing the experimentation suite above
    q_uplift_by_segment's raw slices.

    Determinism: per-study moments are exact decimal sums; the
    inverse-variance weights and Q terms are DECIMAL-cast per study
    before pooling.

    Scale: one conditional-aggregation pass → 5 study rows → 1-row pool.
    §2.B experimentation surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("ma1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    scored = ev.select("event_type", arm.alias("arm"), "value")
    per_study = scored.groupBy("event_type").agg(
        F.count_if(F.col("arm") == "A").cast("bigint").alias("n1"),
        F.count_if(F.col("arm") == "B").cast("bigint").alias("n2"),
        F.sum(F.when(F.col("arm") == "A", dec("value"))).cast("double").alias("s1"),
        F.sum(F.when(F.col("arm") == "B", dec("value"))).cast("double").alias("s2"),
        F.sum(
            F.when(
                F.col("arm") == "A",
                (F.col("value") * F.col("value")).cast("decimal(28,6)"),
            )
        )
        .cast("double")
        .alias("q1"),
        F.sum(
            F.when(
                F.col("arm") == "B",
                (F.col("value") * F.col("value")).cast("decimal(28,6)"),
            )
        )
        .cast("double")
        .alias("q2"),
    )
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    effects = per_study.select(
        "event_type",
        (m2 - m1).alias("eff"),
        (
            (F.col("q1") / F.col("n1") - m1 * m1) / F.col("n1")
            + (F.col("q2") / F.col("n2") - m2 * m2) / F.col("n2")
        ).alias("var_eff"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the pooled weights and the Cochran-Q pass
    # both re-derived the per-study rollup (2 events scans in the plan);
    # the ≤|types| effect grid materializes once
    pooled = effects.agg(
        bcount("k"),
        F.sum((F.col("eff") / F.col("var_eff")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sw_eff"),
        F.sum((F.lit(1.0) / F.col("var_eff")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sw"),
    )
    qstat = (
        effects.crossJoin(F.broadcast(pooled))
        .agg(
            F.sum(
                (
                    (F.col("eff") - F.col("sw_eff") / F.col("sw"))
                    * (F.col("eff") - F.col("sw_eff") / F.col("sw"))
                    / F.col("var_eff")
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("q_cochran"),
            F.max("k").alias("k"),
            F.max("sw_eff").alias("sw_eff"),
            F.max("sw").alias("sw"),
        )
    )
    return qstat.select(
        F.col("k").alias("n_studies"),
        F.round(F.col("sw_eff") / F.col("sw"), 6).alias("pooled_effect"),
        F.round(F.sqrt(1.0 / F.col("sw")), 6).alias("pooled_se"),
        F.round("q_cochran", 6).alias("cochran_q"),
        F.round(
            F.greatest(
                F.lit(0.0),
                (F.col("q_cochran") - (F.col("k") - 1)) / F.col("q_cochran"),
            ),
            6,
        ).alias("i_squared"),
    )
