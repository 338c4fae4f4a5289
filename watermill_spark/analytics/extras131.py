"""Analytics batch 139: binary-quantized ANN with recall grading, KMV
sketch set algebra (union / intersection / Jaccard), and a 2-state HMM
forward log-likelihood regime probe.

Three scale-path operators: sign-bit quantization is the 64×-cheaper
first stage modern vector stores run before exact re-ranking (the
RaBitQ/BQ family) — graded here against the exact top-k; KMV bottom-k
sketches are *mergeable*, which is the whole point at 100 TB — union by
merging hash sets, intersection by inclusion-exclusion, never touching
raw data twice; the HMM forward pass extends the sequential-state shelf
(q_kalman_local_level et al.) with log-space dynamic programming over
the bounded daily grid.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B sketches / similarity / window-family operators.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import dec, hexval8, sql_hexval8
from .registry import load, register, spread
from .similarity import _SQL_COSINE

_NQ = 10  # vec_id < 10 are the query vectors (similarity.py convention)
_KC = 25  # binary-stage candidate pool per query (5x over-fetch)
_K = 5


@register(
    "q_binary_quant_recall",
    oracle=f"""
    WITH bits AS MATERIALIZED (
      SELECT vec_id, embedding,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS b
      FROM embeddings
    ),
    matches AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(q.b) + 1),
                  j -> CASE WHEN q.b[j] = c.b[j] THEN 1 ELSE 0 END))
                  AS BIGINT) AS match_bits,
             round({_SQL_COSINE}, 6) AS sim
      FROM (SELECT * FROM bits WHERE vec_id < {_NQ}) q
      CROSS JOIN bits c
      WHERE c.vec_id <> q.vec_id
    ),
    cand AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY match_bits DESC, neighbor_id) AS brn
      FROM matches
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM cand WHERE brn <= {_KC})
      WHERE rn <= {_K}
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM matches)
      WHERE rn <= {_K}
    )
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_overlap,
           round(CAST(COUNT(a.neighbor_id) AS DOUBLE) / {_K}, 2) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def q_binary_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization ANN, graded: quantize every
    embedding to its 64 sign bits, rank candidates per query by matching
    bit count (Hamming similarity), keep the top-25 pool, re-rank the
    pool by exact cosine, and report recall@5 of that two-stage pipeline
    against the exact brute-force top-5. The BQ/RaBitQ recipe: the bit
    stage costs one XOR-popcount per candidate instead of a 64-float dot,
    and the exact stage touches only the 25-candidate pool.

    Determinism: bit agreement counts are integers; cosine uses the
    sequential-fold dot (similarity.py convention) rounded to 6 before
    ranking; every row_number is tiebroken by neighbor_id.

    Scale: queries broadcast; both stages are narrow maps over the corpus
    scan with per-query WindowGroupLimit top-k — the recall harness scores
    the exact baseline too, so it is deliberately O(n·q) like
    q_knn_bruteforce (whitelisted); production keeps only the bit stage +
    25-candidate re-rank. LLM-pipeline / similarity surface.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    bits = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)),
        ).alias("b"),
    )
    q = bits.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("b").alias("qb"),
    )
    c = bits.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("b").alias("cb"),
    )
    dot = lambda a, bb: F.aggregate(  # noqa: E731
        F.zip_with(a, bb, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    cos = dot(F.col("qe"), F.col("ce")) / (
        F.sqrt(dot(F.col("qe"), F.col("qe"))) * F.sqrt(dot(F.col("ce"), F.col("ce")))
    )
    matches = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(
                F.col("qb"),
                F.col("cb"),
                lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        .cast("bigint")
        .alias("match_bits"),
        F.round(cos, 6).alias("sim"),
    ).localCheckpoint(eager=True)
    wb = Window.partitionBy("query_id").orderBy(
        F.desc("match_bits"), F.asc("neighbor_id")
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    approx = (
        matches.withColumn("brn", F.row_number().over(wb))
        .filter(F.col("brn") <= _KC)
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _K)
        .select(
            F.col("query_id").alias("a_query"),
            F.col("neighbor_id").alias("a_neighbor"),
        )
    )
    exact = (
        matches.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _K)
        .select("query_id", "neighbor_id")
    )
    return (
        exact.join(
            F.broadcast(approx),
            (F.col("query_id") == F.col("a_query"))
            & (F.col("neighbor_id") == F.col("a_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor").cast("bigint").alias("n_overlap"),
            F.round(F.count("a_neighbor").cast("double") / _K, 2).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


_SK = 8  # bottom-k size — small enough that every SF's user sets fill it


def _sql_kmv(pred: str) -> str:
    """DuckDB: k-th smallest user md5 under predicate, as BIGINT."""
    return f"""
      SELECT {sql_hexval8("h")} AS kth FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM (
          SELECT md5('kmv:' || CAST(user_id AS VARCHAR)) AS h
          FROM (SELECT DISTINCT user_id FROM events WHERE {pred})))
      WHERE rn = {_SK}
    """


@register(
    "q_kmv_set_ops",
    oracle=f"""
    WITH ka AS ({_sql_kmv("event_type = 'click'")}),
    kb AS ({_sql_kmv("event_type = 'purchase'")}),
    ku AS ({_sql_kmv("event_type IN ('click', 'purchase')")}),
    est AS (
      SELECT ({_SK} - 1) / (CAST(ka.kth AS DOUBLE) / 4294967296.0) AS est_a,
             ({_SK} - 1) / (CAST(kb.kth AS DOUBLE) / 4294967296.0) AS est_b,
             ({_SK} - 1) / (CAST(ku.kth AS DOUBLE) / 4294967296.0) AS est_union
      FROM ka, kb, ku
    )
    SELECT CAST({_SK} AS BIGINT) AS k,
           round(est_a, 1) AS est_clickers,
           round(est_b, 1) AS est_purchasers,
           round(est_union, 1) AS est_union,
           round(GREATEST(est_a + est_b - est_union, 0.0), 1)
             AS est_intersection,
           round(GREATEST(est_a + est_b - est_union, 0.0) / est_union, 4)
             AS est_jaccard
    FROM est
    """,
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra: bottom-k (k=8) user sketches for clickers
    and purchasers, merged into a union sketch (the k smallest of the
    combined hash set — the merge is just min-k, which is why KMV scales),
    intersection by inclusion-exclusion (clamped ≥0), Jaccard from the
    two. The mergeability demo behind per-partition / per-day sketch
    rollups: at 100 TB each partition ships k hashes, never user ids.

    Determinism: bottom-k orders md5 hex strings (lexicographic = numeric
    for fixed-width hex); only the three k-th values convert hex→int, via
    the shared symmetric idiom. Same-seed hashing ('kmv:') across all
    three sketches makes the union sketch exactly the min-k of the merged
    set.

    Scale: three distinct+bottom-k passes (per-partition WindowGroupLimit
    keeps k rows per task); estimate math is 1-row. §2.B sketches [NS].
    """
    ev = load(spark, sf_dir, "events")

    # single scan (r6): the three bottom-k passes (clickers, purchasers,
    # union) each re-scanned and re-deduped events; ONE scan now builds
    # the per-user membership grid (distinct user ⇒ one hash row, with
    # click/purchase flags), checkpointed once (state linear in the user
    # domain), and each kth() is a rank filter over the grid
    flags = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "click").alias("is_a"),
            F.max(F.col("event_type") == "purchase").alias("is_b"),
        )
        .select(
            F.md5(
                F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
            ).alias("h"),
            "is_a",
            "is_b",
        )
        .localCheckpoint(eager=True)
    )

    def kth(cond):
        return (
            flags.filter(cond)
            .select("h", F.row_number().over(Window.orderBy("h")).alias("rn"))
            .filter(F.col("rn") == _SK)
            .select(hexval8(F.col("h")).alias("kth"))
        )

    ka = kth(F.col("is_a")).select(F.col("kth").alias("kth_a"))
    kb = kth(F.col("is_b")).select(F.col("kth").alias("kth_b"))
    ku = kth(F.col("is_a") | F.col("is_b")).select(
        F.col("kth").alias("kth_u")
    )
    s = ka.crossJoin(kb).crossJoin(ku)

    def est(col):
        return (F.lit(_SK) - 1) / (F.col(col).cast("double") / F.lit(4294967296.0))

    ea, eb, eu = est("kth_a"), est("kth_b"), est("kth_u")
    inter = F.greatest(ea + eb - eu, F.lit(0.0))
    return s.select(
        F.lit(_SK).cast("bigint").alias("k"),
        F.round(ea, 1).alias("est_clickers"),
        F.round(eb, 1).alias("est_purchasers"),
        F.round(eu, 1).alias("est_union"),
        F.round(inter, 1).alias("est_intersection"),
        F.round(inter / eu, 4).alias("est_jaccard"),
    )


@register(
    "q_hmm_forward_loglik",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    ord AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
      FROM daily
    ),
    mv AS (
      SELECT o.rn - 1 AS rn,
             CASE WHEN o.y > p.y THEN 1 ELSE 0 END AS up
      FROM ord o JOIN ord p ON p.rn = o.rn - 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(up) AS BIGINT) AS n_up FROM mv),
    fwd AS (
      SELECT 1 AS rn,
             ln(0.5) + CASE WHEN (SELECT up FROM mv WHERE rn = 1) = 1
                       THEN ln(0.6) ELSE ln(0.4) END AS a1,
             ln(0.5) + CASE WHEN (SELECT up FROM mv WHERE rn = 1) = 1
                       THEN ln(0.4) ELSE ln(0.6) END AS a2
      UNION ALL
      SELECT f.rn + 1,
             CASE WHEN (SELECT up FROM mv WHERE rn = f.rn + 1) = 1
                  THEN ln(0.6) ELSE ln(0.4) END
             + GREATEST(f.a1, f.a2)
             + ln(0.95 * exp(f.a1 - GREATEST(f.a1, f.a2))
                  + 0.05 * exp(f.a2 - GREATEST(f.a1, f.a2))),
             CASE WHEN (SELECT up FROM mv WHERE rn = f.rn + 1) = 1
                  THEN ln(0.4) ELSE ln(0.6) END
             + GREATEST(f.a1, f.a2)
             + ln(0.05 * exp(f.a1 - GREATEST(f.a1, f.a2))
                  + 0.95 * exp(f.a2 - GREATEST(f.a1, f.a2)))
      FROM fwd f WHERE f.rn < (SELECT n FROM n)
    ),
    fin AS (
      SELECT GREATEST(a1, a2)
             + ln(exp(a1 - GREATEST(a1, a2)) + exp(a2 - GREATEST(a1, a2)))
               AS loglik
      FROM fwd WHERE rn = (SELECT n FROM n)
    )
    SELECT n.n AS n_moves,
           round(f.loglik, 6) AS hmm_loglik,
           round(n.n_up * ln(CAST(n.n_up AS DOUBLE) / n.n)
                 + (n.n - n.n_up) * ln(1.0 - CAST(n.n_up AS DOUBLE) / n.n), 6)
             AS iid_loglik,
           round(2.0 * (f.loglik
                 - (n.n_up * ln(CAST(n.n_up AS DOUBLE) / n.n)
                    + (n.n - n.n_up) * ln(1.0 - CAST(n.n_up AS DOUBLE) / n.n))),
                 6) AS llr_vs_iid,
           round(f.loglik / n.n, 6) AS loglik_per_move
    FROM fin f, n
    """,
)
def q_hmm_forward_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-state HMM forward-algorithm log-likelihood of the daily revenue
    up/down sequence: bull state emits up with p=0.6, bear with p=0.4,
    sticky transitions 0.95/0.05, uniform init. Log-space forward
    recursion with explicit max-shift logsumexp (αᵢ' = eᵢ + m +
    ln Σⱼ Tⱼᵢ e^{αⱼ−m}), compared to the best iid-Bernoulli fit via a
    likelihood ratio — "do revenue moves have regime persistence?". The
    dynamic-programming member of the sequential-state shelf
    (q_kalman_local_level / q_garch_volatility_filter).

    Determinism: the numpy/math loop and the recursive CTE execute the
    identical IEEE expression tree (same ln/exp call structure, same
    max-shift); both engines link the same system libm here, and results
    are rounded to 6.

    Scale: one distributed agg collapses facts to the day grid; the
    O(#days) DP runs on the bounded grid in one applyInPandas. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )

    def fwd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        up = [1 if float(y[i]) > float(y[i - 1]) else 0 for i in range(1, len(y))]
        n, n_up = len(up), sum(up)

        def e(state, u):
            if state == 1:
                return math.log(0.6) if u == 1 else math.log(0.4)
            return math.log(0.4) if u == 1 else math.log(0.6)

        a1 = math.log(0.5) + e(1, up[0])
        a2 = math.log(0.5) + e(2, up[0])
        for t in range(1, n):
            m = max(a1, a2)
            na1 = e(1, up[t]) + m + math.log(
                0.95 * math.exp(a1 - m) + 0.05 * math.exp(a2 - m)
            )
            na2 = e(2, up[t]) + m + math.log(
                0.05 * math.exp(a1 - m) + 0.95 * math.exp(a2 - m)
            )
            a1, a2 = na1, na2
        m = max(a1, a2)
        ll = m + math.log(math.exp(a1 - m) + math.exp(a2 - m))
        p = n_up / n
        iid = n_up * math.log(p) + (n - n_up) * math.log(1.0 - p)
        return pd.DataFrame(
            {
                "n_moves": [n],
                "hmm_loglik": [ll],
                "iid_loglik": [iid],
                "llr_vs_iid": [2.0 * (ll - iid)],
                "loglik_per_move": [ll / n],
            }
        )

    res = daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        fwd,
        "n_moves long, hmm_loglik double, iid_loglik double,"
        " llr_vs_iid double, loglik_per_move double",
    )
    return res.select(
        F.col("n_moves").cast("bigint").alias("n_moves"),
        F.round("hmm_loglik", 6).alias("hmm_loglik"),
        F.round("iid_loglik", 6).alias("iid_loglik"),
        F.round("llr_vs_iid", 6).alias("llr_vs_iid"),
        F.round("loglik_per_move", 6).alias("loglik_per_move"),
    )
