"""Analytics batch 162: sliding (mergeable) HyperLogLog, weighted
Jaccard between sources, and two-hop reachability.

The sliding HLL is the point of sketches at scale: weekly register
tables MERGE into a monthly estimate by taking per-bucket maxima — no
re-scan of the raw data — while the naive sum of weekly estimates
overcounts returning users; this query shows both numbers next to the
exact truth (extends q_hll_manual / q_kmv_set_ops). Weighted Jaccard
compares source VOCABULARY PROFILES as multisets — the frequency-aware
upgrade of q_vocab_overlap_sources (two sources can share every word
yet use them at wildly different rates). Two-hop reachability is the
"small world in two steps" summary of the trade graph.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/sketch/graph families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register

_M = 256  # HLL registers

_ALPHA_M2 = f"(0.7213 / (1 + 1.079 / {_M}.0)) * {_M}.0 * {_M}.0"

# rho (leading-zero run of the post-bucket hash bits + 1), the exact
# q_hll_manual recipe, shared here for the weekly registers.
_SQL_RHO = (
    "LEAST(length(regexp_extract(substr(hx, 3, 30), '^0*')) * 4 + 4 - "
    "length(bin("
    + sql_hexval(
        "substr(hx, 3 + length(regexp_extract(substr(hx, 3, 30), '^0*')), 1)"
    )
    + ")) + 1, 40)"
)


@register(
    "q_sliding_hll",
    oracle=f"""
    WITH h AS (
      SELECT CAST(date_trunc('month', date_trunc('week', ts)) AS DATE)
               AS mth,
             CAST(date_trunc('week', ts) AS DATE) AS wk,
             md5(CAST(user_id AS VARCHAR)) AS hx,
             user_id
      FROM events
    ),
    reg AS (
      SELECT mth, wk,
             {sql_hexval("substr(hx, 1, 1)")} * 16
               + {sql_hexval("substr(hx, 2, 1)")} AS bucket,
             {_SQL_RHO} AS rho
      FROM h
    ),
    wreg AS (
      SELECT mth, wk, bucket, CAST(MAX(rho) AS BIGINT) AS m_j
      FROM reg GROUP BY 1, 2, 3
    ),
    west AS (
      SELECT mth, wk,
             {_ALPHA_M2}
             / (CAST(SUM(CAST(1.0 / CAST(CAST(1 AS BIGINT) << m_j AS DOUBLE)
                              AS DECIMAL(20,18))) AS DOUBLE)
                + ({_M} - COUNT(*))) AS est
      FROM wreg GROUP BY 1, 2
    ),
    mreg AS (
      SELECT mth, bucket, CAST(MAX(m_j) AS BIGINT) AS m_j
      FROM wreg GROUP BY 1, 2
    ),
    mest AS (
      SELECT mth,
             {_ALPHA_M2}
             / (CAST(SUM(CAST(1.0 / CAST(CAST(1 AS BIGINT) << m_j AS DOUBLE)
                              AS DECIMAL(20,18))) AS DOUBLE)
                + ({_M} - COUNT(*))) AS merged_est
      FROM mreg GROUP BY 1
    ),
    truth AS (
      SELECT mth, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM h GROUP BY 1
    ),
    wsum AS (
      SELECT mth, CAST(COUNT(*) AS BIGINT) AS n_weeks,
             CAST(SUM(CAST(est AS DECIMAL(38,10))) AS DOUBLE)
               AS sum_week_est
      FROM west GROUP BY 1
    )
    SELECT t.mth AS month, w.n_weeks, t.exact_users,
           round(m.merged_est, 1) AS merged_estimate,
           round(w.sum_week_est, 1) AS sum_of_week_estimates,
           round((m.merged_est - t.exact_users) / t.exact_users * 100.0,
                 2) AS merged_rel_error_pct
    FROM truth t
    JOIN mest m ON m.mth = t.mth
    JOIN wsum w ON w.mth = t.mth
    ORDER BY t.mth
    """,
)
def q_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window HyperLogLog: weekly register tables (m=256,
    md5-derived, the exact q_hll_manual recipe) MERGE into each month's
    estimate by per-bucket register maxima — distinct users per month
    computed WITHOUT rescanning raw events, next to the exact truth and
    the naive sum of weekly estimates (which overcounts returning
    users). Mergeability is the property that makes sketches the
    100-TB answer: weekly shards reduce to 256 integers each, and any
    window union is a max.

    Determinism: registers are md5 hex arithmetic; harmonic means sum
    exact powers of two through DECIMAL; weeks assign to the month of
    their Monday on both engines.

    Scale: the register table is |weeks|×256 after one map-side max;
    the merge is a second 256-row max per month. §2.B sketch family
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    hx = F.md5(F.col("user_id").cast("string"))
    rest = F.substring(hx, 3, 30)
    zeros = F.length(F.regexp_extract(rest, "^0*", 0))
    rho = F.least(
        zeros * 4
        + 4
        - F.length(
            F.bin(
                hexval(
                    F.expr(
                        "substr(substr(md5(CAST(user_id AS STRING)), 3, 30),"
                        " length(regexp_extract(substr(md5(CAST(user_id AS"
                        " STRING)), 3, 30), '^0*', 0)) + 1, 1)"
                    )
                )
            )
        )
        + 1,
        F.lit(40),
    )
    h = ev.select(
        F.date_trunc("month", F.date_trunc("week", "ts"))
        .cast("date")
        .alias("mth"),
        F.date_trunc("week", "ts").cast("date").alias("wk"),
        (hexval(F.substring(hx, 1, 1)) * 16 + hexval(F.substring(hx, 2, 1))).alias(
            "bucket"
        ),
        rho.alias("rho"),
        "user_id",
    )
    # single scan (r6): register maxima AND the exact distinct-user truth
    # both derive from the deduped (month, week, user) grid — bucket and
    # rho are pure functions of user_id so distinct() keeps them intact;
    # max over the deduped set equals max over the multiset. Checkpointed
    # once (state linear in the user×week domain — the growth_accounting
    # posting-list class); was 3 events scans in the plan.
    um = h.distinct().localCheckpoint(eager=True)
    wreg = um.groupBy("mth", "wk", "bucket").agg(
        F.max("rho").cast("bigint").alias("m_j")
    )
    zsum = F.sum(
        (
            F.lit(1.0)
            / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(m_j AS INT))").cast(
                "double"
            )
        ).cast("decimal(20,18)")
    ).cast("double")
    est = F.lit((0.7213 / (1 + 1.079 / _M)) * _M * _M) / (
        zsum + (F.lit(_M) - F.count(F.lit(1)))
    )
    west = wreg.groupBy("mth", "wk").agg(est.alias("est"))
    mreg = wreg.groupBy("mth", "bucket").agg(F.max("m_j").alias("m_j"))
    mest = mreg.groupBy("mth").agg(est.alias("merged_est"))
    truth = um.groupBy("mth").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    wsum = west.groupBy("mth").agg(
        bcount("n_weeks"),
        F.sum(F.col("est").cast("decimal(38,10)"))
        .cast("double")
        .alias("sum_week_est"),
    )
    return (
        truth.join(mest, "mth")
        .join(wsum, "mth")
        .select(
            F.col("mth").alias("month"),
            "n_weeks",
            "exact_users",
            F.round("merged_est", 1).alias("merged_estimate"),
            F.round("sum_week_est", 1).alias("sum_of_week_estimates"),
            F.round(
                (F.col("merged_est") - F.col("exact_users"))
                / F.col("exact_users")
                * 100.0,
                2,
            ).alias("merged_rel_error_pct"),
        )
        .orderBy("month")
    )


@register(
    "q_weighted_jaccard_sources",
    oracle="""
    WITH toks AS (
      SELECT source, lower(tok) AS tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents,
           UNNEST(string_split(text, ' ')) AS t(tok)
      WHERE length(tok) >= 2
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM toks GROUP BY 1
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS sum_min
      FROM toks a JOIN toks b
        ON b.tok = a.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           i.sum_min,
           CAST(ta.tot + tb.tot - i.sum_min AS BIGINT) AS sum_max,
           round(CAST(i.sum_min AS DOUBLE)
                 / (ta.tot + tb.tot - i.sum_min), 6) AS weighted_jaccard
    FROM inter i
    JOIN totals ta ON ta.source = i.source_a
    JOIN totals tb ON tb.source = i.source_b
    ORDER BY i.source_a, i.source_b
    """,
)
def q_weighted_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) Jaccard between source vocabulary profiles:
    J_w = Σ_t min(c_a, c_b) / Σ_t max(c_a, c_b), with the max-side
    computed as tot_a + tot_b − Σmin — frequency-aware overlap that
    distinguishes sources sharing every WORD from sources sharing a
    USAGE DISTRIBUTION (the upgrade of the set-based
    q_vocab_overlap_sources; two templated crawls score near 1 here).

    Determinism: token counts and min/max sums are exact integers; the
    ratio divides in double.

    Scale: tokens collapse to the (source, token) grain first, so the
    token-keyed self-join is inverted-index sized — token dimension ×
    source pairs, never documents². §2.B join family + text mandate
    [NS].
    """
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .select("source", F.lower("tok").alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("source", "tok")
        .agg(bcount("c"))
        # checkpointed once (r6): totals and both self-join sides
        # previously re-tokenized the corpus per reference
        .localCheckpoint(eager=True)
    )
    totals = toks.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    b = toks.select(
        F.col("source").alias("source_b"),
        F.col("tok").alias("tokb"),
        F.col("c").alias("cb"),
    )
    inter = (
        toks.join(
            b,
            (F.col("tokb") == F.col("tok"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.sum(F.least("c", "cb")).cast("bigint").alias("sum_min"))
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("tot").alias("tot_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("tot").alias("tot_b")
    )
    return (
        inter.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "sum_min",
            (F.col("tot_a") + F.col("tot_b") - F.col("sum_min"))
            .cast("bigint")
            .alias("sum_max"),
            F.round(
                F.col("sum_min").cast("double")
                / (F.col("tot_a") + F.col("tot_b") - F.col("sum_min")),
                6,
            ).alias("weighted_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "q_two_hop_reachability",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    e AS (SELECT src, dst FROM edges),
    nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
    hop2 AS (
      SELECT DISTINCT a.src, b.dst
      FROM e a JOIN e b ON b.src = a.dst
      WHERE a.src <> b.dst
    ),
    reach AS (
      SELECT src, dst FROM e
      UNION
      SELECT src, dst FROM hop2
    ),
    cnts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM reach) AS n_reach2
    )
    SELECT n_nodes, n_edges, n_reach2,
           round(CAST(n_reach2 AS DOUBLE)
                 / (n_nodes * (n_nodes - 1.0)) * 100.0, 4)
             AS reach2_pct
    FROM cnts
    """,
)
def q_two_hop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reachability of the directed nation trade graph: the
    share of ordered node pairs connected by a path of length ≤ 2 —
    the "small world in two steps" summary that complements the exact
    distance machinery (q_harmonic_centrality) with one self-join
    instead of a BFS fixpoint.

    Determinism: pure integer set algebra (distinct unions of
    equi-joins).

    Scale: the fact join collapses to the ≤|nations|² edge list first;
    hop-2 is one edge-keyed self-join on that bounded graph. §2.B
    join/graph family [NS].
    """
    e = (
        nation_trade_edges(spark, sf_dir).select("src", "dst")
        # checkpointed once (r6): nodes (×2), both hop-2 sides, reach and
        # the edge count each re-derived the 4-table fact join (6 lineitem
        # scans in the plan); the ≤|nations|² edge list materializes once
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("n")).union(e.select("dst")).distinct()
    b = e.select(F.col("src").alias("mid"), F.col("dst").alias("dst2"))
    hop2 = (
        e.join(b, F.col("dst") == F.col("mid"))
        .filter(F.col("src") != F.col("dst2"))
        .select("src", F.col("dst2").alias("dst"))
        .distinct()
    )
    reach = e.union(hop2).distinct()
    cnts = (
        nodes.agg(bcount("n_nodes"))
        .crossJoin(F.broadcast(e.agg(bcount("n_edges"))))
        .crossJoin(F.broadcast(reach.agg(bcount("n_reach2"))))
    )
    return cnts.select(
        "n_nodes",
        "n_edges",
        "n_reach2",
        F.round(
            F.col("n_reach2").cast("double")
            / (F.col("n_nodes") * (F.col("n_nodes") - 1.0))
            * 100.0,
            4,
        ).alias("reach2_pct"),
    )
