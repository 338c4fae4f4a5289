"""Analytics batch 68: directed-graph dyad census with reciprocity, the
entropy rate of the event-type Markov chain, and Bradley–Terry paired-
comparison ranking of brands (fixed-point iteration).

Bradley–Terry joins the engine's iterative family (pagerank, IPF, Markov
steps): a few synchronous rounds on a broadcast-sized state vector with
per-term DECIMAL casts and per-round lineage truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges


@register(
    "q_graph_reciprocity",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    e AS (SELECT src, dst FROM edges),
    nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
    mutual AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual_edges
      FROM e a JOIN e b ON b.src = a.dst AND b.dst = a.src
    )
    SELECT nn.n_nodes, m.n_edges,
           CAST(mutual.n_mutual_edges / 2 AS BIGINT) AS mutual_dyads,
           CAST(m.n_edges - mutual.n_mutual_edges AS BIGINT)
             AS asymmetric_dyads,
           CAST(nn.n_nodes * (nn.n_nodes - 1) / 2
                - mutual.n_mutual_edges / 2
                - (m.n_edges - mutual.n_mutual_edges) AS BIGINT)
             AS null_dyads,
           round(CAST(mutual.n_mutual_edges AS DOUBLE) / m.n_edges, 6)
             AS reciprocity
    FROM nn, m, mutual
    """,
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyad census of the directed nation trade graph: mutual /
    asymmetric / null dyad counts and the reciprocity coefficient (share
    of edges whose reverse edge also exists) — the directionality summary
    that q_degree_distribution / q_clustering_coefficient (undirected
    views) can't see; high reciprocity means trade relationships are
    two-way.

    All-integer: the mutual count is a self-join on reversed keys; dyad
    identities are exact integer algebra.

    Scale: the census runs on the collapsed ≤|nations|² edge list; the
    reverse-edge join is key-local after one co-partition. §2.B [NS].
    """
    e = nation_trade_edges(spark, sf_dir).select("src", "dst").localCheckpoint(eager=True)
    nodes = e.select(F.col("src").alias("n")).union(e.select("dst")).distinct()
    nn = nodes.agg(bcount("n_nodes"))
    m = e.agg(bcount("n_edges"))
    rev = e.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    mutual = e.join(rev, ["src", "dst"]).agg(bcount("n_mutual_edges"))
    s = nn.crossJoin(m).crossJoin(mutual)
    return s.select(
        "n_nodes",
        "n_edges",
        F.floor(F.col("n_mutual_edges") / 2).cast("bigint").alias("mutual_dyads"),
        (F.col("n_edges") - F.col("n_mutual_edges"))
        .cast("bigint")
        .alias("asymmetric_dyads"),
        (
            F.floor(F.col("n_nodes") * (F.col("n_nodes") - 1) / 2)
            - F.floor(F.col("n_mutual_edges") / 2)
            - (F.col("n_edges") - F.col("n_mutual_edges"))
        )
        .cast("bigint")
        .alias("null_dyads"),
        F.round(
            F.col("n_mutual_edges").cast("double") / F.col("n_edges"), 6
        ).alias("reciprocity"),
    )


@register(
    "q_markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    trans AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM trans GROUP BY 1),
    grand AS (SELECT CAST(SUM(c) AS BIGINT) AS g FROM trans),
    rows_h AS (
      SELECT t.src, tt.n, grand.g,
             CAST(SUM(CAST(-(CAST(t.c AS DOUBLE) / tt.n)
                      * ln(CAST(t.c AS DOUBLE) / tt.n)
                      AS DECIMAL(28,15))) AS DOUBLE) AS h_row
      FROM trans t JOIN tot tt USING (src) CROSS JOIN grand
      GROUP BY t.src, tt.n, grand.g
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_states,
           round(CAST(SUM(CAST(CAST(n AS DOUBLE) / g * h_row
                    AS DECIMAL(28,15))) AS DOUBLE), 6) AS entropy_rate_nats,
           round(CAST(SUM(CAST(CAST(n AS DOUBLE) / g * h_row
                    AS DECIMAL(28,15))) AS DOUBLE) / ln(2.0), 6)
             AS entropy_rate_bits,
           round(CAST(MAX(h_row) AS DOUBLE), 6) AS max_row_entropy
    FROM rows_h
    """,
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the empirical event-type Markov chain:
    H = Σᵢ πᵢ·Hᵢ with Hᵢ = −Σⱼ pᵢⱼ ln pᵢⱼ and πᵢ the empirical source
    frequency — bits-per-event of *conditional* surprise, the sequence-
    aware counterpart of q_user_entropy / q_entropy_daily_mix (marginal
    entropy) and the compressibility bound for an event-log encoder;
    composes the same transition matrix as q_events_markov_transitions /
    q_markov_steps_to_purchase.

    Determinism: probabilities are integer-count ratios; each p·ln p term
    is DECIMAL(28,15)-cast per row before summation (the established
    entropy discipline), as is each πᵢHᵢ term.

    Scale: one lead() window on user_id + a ≤|states|² rollup; the
    entropy algebra runs on the 5×5 grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    from pyspark.sql import Window

    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("dst"),
    )
    trans = seq.filter(F.col("dst").isNotNull()).groupBy("src", "dst").agg(bcount("c"))
    # checkpointed once (r6): row totals, the grand total and the row-
    # entropy join each re-derived the transition counts (3 events scans
    # in the plan); the ≤|event_types|² grid materializes once
    trans = trans.localCheckpoint(eager=True)
    tot = trans.groupBy("src").agg(F.sum("c").cast("bigint").alias("n"))
    grand = trans.agg(F.sum("c").cast("bigint").alias("g"))
    p = F.col("c").cast("double") / F.col("n")
    rows_h = (
        trans.join(F.broadcast(tot), "src")
        .crossJoin(F.broadcast(grand))
        .groupBy("src", "n", "g")
        .agg(
            F.sum((-p * F.log(p)).cast("decimal(28,15)"))
            .cast("double")
            .alias("h_row")
        )
    )
    pi_h = (F.col("n").cast("double") / F.col("g") * F.col("h_row")).cast(
        "decimal(28,15)"
    )
    return rows_h.agg(
        bcount("n_states"),
        F.round(F.sum(pi_h).cast("double"), 6).alias("entropy_rate_nats"),
        F.round(F.sum(pi_h).cast("double") / F.log(F.lit(2.0)), 6).alias(
            "entropy_rate_bits"
        ),
        F.round(F.max("h_row").cast("double"), 6).alias("max_row_entropy"),
    )


_BT_ROUNDS = 4

@register(
    "q_bradley_terry",
    oracle=f"""
    WITH lines AS (
      SELECT l.l_orderkey, p.p_brand AS b, l.l_extendedprice AS v,
             l.l_linenumber
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    duels AS (
      SELECT a.b AS bi, c.b AS bj,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lines a JOIN lines c
        ON c.l_orderkey = a.l_orderkey AND a.b < c.b
           AND (a.v > c.v OR (a.v = c.v AND a.l_linenumber < c.l_linenumber))
      GROUP BY 1, 2
    ),
    duels_rev AS (
      SELECT a.b AS bi, c.b AS bj, CAST(COUNT(*) AS BIGINT) AS w
      FROM lines a JOIN lines c
        ON c.l_orderkey = a.l_orderkey AND a.b > c.b
           AND (a.v > c.v OR (a.v = c.v AND a.l_linenumber < c.l_linenumber))
      GROUP BY 1, 2
    ),
    allw AS (SELECT * FROM duels UNION ALL SELECT * FROM duels_rev),
    pairs AS (
      SELECT bi AS i, bj AS j,
             CAST(SUM(w) AS BIGINT) AS wij
      FROM allw GROUP BY 1, 2
    ),
    pairs_n AS (
      SELECT i, j, wij,
             wij + COALESCE((SELECT p2.wij FROM pairs p2
                             WHERE p2.i = pairs.j AND p2.j = pairs.i), 0)
               AS n
      FROM pairs
    ),
    wins AS (SELECT i, CAST(SUM(wij) AS BIGINT) AS wins FROM pairs GROUP BY i),
    s0 AS (SELECT DISTINCT i, 1.0 AS s FROM pairs),
    {",".join(
        f'''s{k + 1} AS (
      SELECT p.i,
             CAST(w.wins AS DOUBLE)
             / CAST(SUM(CAST(CAST(p.n AS DOUBLE)
                    / (si.s + sj.s) AS DECIMAL(28,15)))
                    AS DOUBLE) AS s
      FROM pairs_n p
      JOIN wins w ON w.i = p.i
      JOIN s{k} si ON si.i = p.i
      JOIN s{k} sj ON sj.i = p.j
      GROUP BY p.i, w.wins
    )''' for k in range(_BT_ROUNDS)
    )},
    norm AS (
      SELECT CAST(SUM(CAST(s AS DECIMAL(28,15))) AS DOUBLE) AS z
      FROM s{_BT_ROUNDS}
    )
    SELECT i AS brand,
           round(s / norm.z, 6) AS bt_strength,
           (SELECT wins FROM wins WHERE wins.i = s{_BT_ROUNDS}.i) AS wins
    FROM s{_BT_ROUNDS}, norm
    ORDER BY bt_strength DESC, brand
    LIMIT 10
    """,
)
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry paired-comparison strengths for brands: within each
    order, every cross-brand line pair is a "duel" won by the higher-
    priced line (linenumber tiebreak); 4 rounds of the classic MM update
    sᵢ ← wᵢ / Σⱼ nᵢⱼ/(sᵢ+sⱼ), normalized to sum 1 — the principled
    ranking when only pairwise outcomes exist (search relevance, model
    arena scores), reporting the top-10 brands; contrast with
    q_brand_affinity_lift (co-occurrence, not dominance).

    Determinism: duel counts are exact integers with a total-order
    tiebreak; each MM denominator term is DECIMAL(28,15)-cast before
    summation; rounds are fixed and identical on both engines.

    Scale: the duel join is key-local per order (baskets ≤7 lines bound
    the pair fan-out — the q_assoc_rules_types shape); iteration state is
    the ≤|brands| vector, broadcast every round with lineage truncated
    per round (localCheckpoint, see SCALE.md). §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    lines = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey",
        F.col("p_brand").alias("b"),
        F.col("l_extendedprice").alias("v"),
        "l_linenumber",
    )
    a, c = lines.alias("a"), lines.alias("c")
    beats = F.col("a.v") > F.col("c.v")
    tie_win = (F.col("a.v") == F.col("c.v")) & (
        F.col("a.l_linenumber") < F.col("c.l_linenumber")
    )
    duels = (
        a.join(
            c,
            (F.col("c.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("a.b") != F.col("c.b"))
            & (beats | tie_win),
        )
        .groupBy(F.col("a.b").alias("i"), F.col("c.b").alias("j"))
        .agg(bcount("wij"))
    ).localCheckpoint(eager=True)
    rev = duels.select(
        F.col("i").alias("j"), F.col("j").alias("i"), F.col("wij").alias("wji")
    )
    pairs_n = duels.join(F.broadcast(rev), ["i", "j"], "left").select(
        "i",
        "j",
        "wij",
        (F.col("wij") + F.coalesce(F.col("wji"), F.lit(0))).alias("n"),
    )
    wins = duels.groupBy("i").agg(F.sum("wij").cast("bigint").alias("wins"))
    s = pairs_n.select("i").distinct().select("i", F.lit(1.0).alias("s"))
    s = s.localCheckpoint(eager=True)
    for _ in range(_BT_ROUNDS):
        si = s.withColumnRenamed("s", "s_i")
        sj = s.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
        term = (F.col("n").cast("double") / (F.col("s_i") + F.col("s_j"))).cast(
            "decimal(28,15)"
        )
        s = (
            pairs_n.join(F.broadcast(si), "i")
            .join(F.broadcast(sj), "j")
            .join(F.broadcast(wins), "i")
            .groupBy("i", "wins")
            .agg(
                (
                    F.col("wins").cast("double")
                    / F.sum(term).cast("double")
                ).alias("s")
            )
            .select("i", "s")
            .localCheckpoint(eager=True)
        )
    norm = s.agg(F.sum(F.col("s").cast("decimal(28,15)")).cast("double").alias("z"))
    return (
        s.crossJoin(F.broadcast(norm))
        .join(F.broadcast(wins), "i")
        .select(
            F.col("i").alias("brand"),
            F.round(F.col("s") / F.col("z"), 6).alias("bt_strength"),
            "wins",
        )
        .orderBy(F.col("bt_strength").desc(), "brand")
        .limit(10)
    )
