"""Analytics batch 4: grouping sets, distribution windows, sliding windows,
cohort retention, skew-salted aggregation, edit distance, IVF ANN, sketches.

Every query follows the cross-engine determinism rules in
:mod:`watermill_spark.analytics.det` (exact decimal sums, BIGINT casts,
total-order tiebreaks). Reference parity: these extend SURVEY.md §2.B — the
analytics surface the reference (watermill, a Go messaging library) does not
itself contain but the north star requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, dsum, sql_dsum
from .registry import load, register, spread
from .similarity import K, N_QUERIES, _dot


@register(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube).

    Scale: like rollup, Spark expands the sets before the shuffle and keeps
    partial aggregation — one data pass, three output granularities.
    """
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("ws_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM ws_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "q_window_percent_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(PERCENT_RANK() OVER w, 6) AS pct_rank,
           round(CUME_DIST() OVER w, 6) AS cume,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions per market segment.

    Scale: partitioned by mktsegment (bounded cardinality) — each partition
    sorts independently after one shuffle; no global sort.
    """
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@register(
    "q_events_sliding_window",
    oracle="""
    SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM (
      SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS w_start,
             value
      FROM events)
    GROUP BY w_start
    """,
)
def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows: 2-hour width, 1-hour slide.

    Batch twin of `groupBy(window(ts, '2 hours', '1 hour'))` in Structured
    Streaming (same assignment semantics: each event lands in width/slide
    windows). Scale: window assignment is a narrow flatMap; the aggregation
    shuffles on (window_start) — uniform keys, partial agg applies.
    """
    ev = load(spark, sf_dir, "events")
    win = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"))
        .agg(bcount("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q_events_retention_cohort",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('month', MIN(ts)) AS cohort
      FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort AS TIMESTAMP) AS cohort_month,
           CAST((date_part('year', e.ts) * 12 + date_part('month', e.ts))
              - (date_part('year', f.cohort) * 12 + date_part('month', f.cohort))
              AS BIGINT) AS months_since,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users by first-activity month x months-since.

    Scale: the firsts aggregation and the join share the user_id key, so
    with AQE the join reuses the shuffle; months arithmetic is integer
    (engine-independent, unlike months_between's fractional semantics).
    """
    ev = load(spark, sf_dir, "events")
    # single scan (r6): the cohort map and the activity join each
    # re-scanned events; both derive exactly from ONE deduped
    # (user, month) grid (checkpointed once — posting-list class, state
    # linear in the user×month domain): trunc(min(ts)) == min(trunc(ts))
    # by monotonicity, and distinct users per (cohort, month) are the
    # grid rows themselves
    um = ev.select(
        "user_id", F.date_trunc("month", "ts").alias("m")
    ).distinct().localCheckpoint(eager=True)
    firsts = um.groupBy("user_id").agg(F.min("m").alias("cohort"))
    months = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    return (
        um.join(firsts, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_month"),
            (months(F.col("m")) - months(F.col("cohort"))).cast("bigint").alias("months_since"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
    )


@register(
    "q_salted_skew_agg",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY event_type
    """,
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a skewed low-cardinality key.

    The skew pattern itself: event_type has a handful of values, so a naive
    groupBy sends each key's entire volume to one reducer. Salting splits
    each key 16 ways (phase 1), then re-aggregates the 16 partials (phase 2,
    tiny). Results are identical to the plain group-by — the oracle IS the
    plain group-by — because the decimal sums are associative and exact.
    At local scale partial (map-side) aggregation already handles this; the
    shape is registered because at 100 TB with high-cardinality *values* per
    key (e.g. collect-type aggs) map-side combine stops being enough.
    """
    ev = load(spark, sf_dir, "events")
    phase1 = (
        ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(dec("value")).alias("pv"),
        )
    )
    return phase1.groupBy("event_type").agg(
        F.sum("pn").cast("bigint").alias("n"),
        F.sum("pv").cast("double").alias("total_value"),
    )


@register(
    "q_doc_levenshtein",
    oracle="""
    SELECT doc_id,
           CAST(levenshtein(lower(substr(text, 1, 24)),
                            'the quick brown fox jump') AS BIGINT) AS lev_ref,
           CAST(levenshtein(lower(substr(text, 1, 12)),
                            lower(substr(text, 13, 12))) AS BIGINT) AS lev_self
    FROM documents
    """,
)
def q_doc_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar surface (fuzzy-match building block).

    Bounded-prefix comparisons keep the O(len^2) DP cell count constant per
    row, which is how edit distance stays tractable in a 100-TB scan (full
    document-pair levenshtein is never the plan — prefix/blocked only).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.levenshtein(F.lower(F.substring("text", 1, 24)), F.lit("the quick brown fox jump"))
        .cast("bigint")
        .alias("lev_ref"),
        F.levenshtein(F.lower(F.substring("text", 1, 12)), F.lower(F.substring("text", 13, 12)))
        .cast("bigint")
        .alias("lev_self"),
    )


# IVF: centroid set = every 200th vector (deterministic coarse quantizer
# stand-in; a production build k-means-trains these, assignment plan is
# identical). Rounding to 6dp before argmax/rank keeps Spark and DuckDB
# tie-behavior aligned.
_IVF_STRIDE = 200

_SQL_IVF = f"""
    WITH cents AS (
      SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id % {_IVF_STRIDE} = 0
    ), assign AS (
      SELECT e.vec_id, e.embedding, cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_dot_product(CAST(e.embedding AS DOUBLE[]), cvec), 6) DESC,
                        cell_id) AS rn
      FROM embeddings e CROSS JOIN cents
    ), cells AS (
      SELECT vec_id, embedding, cell_id FROM assign WHERE rn = 1
    )
"""


@register(
    "q_knn_ivf",
    oracle=_SQL_IVF
    + f"""
    SELECT query_id, neighbor_id, sim FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS rn
      FROM (SELECT * FROM cells WHERE vec_id < {N_QUERIES}) q
      JOIN cells c ON c.cell_id = q.cell_id AND c.vec_id <> q.vec_id)
    WHERE rn <= {K}
    """,
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: computed nearest-centroid cells, probe the query's cell.

    The scale path for billion-vector search: centroids are broadcast, cell
    assignment is one narrow pass + a groupBy(vec_id) argmax (struct-max, so
    ties resolve to the lowest cell id deterministically), and exact scoring
    touches only the probed cell (~1/n_cells of the corpus per query).
    n_probe>1 is the same plan with the top-n cells exploded.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # checkpointed once (r6): the centroid slice and the assignment join
    # each re-scanned embeddings, and the expensive cell-assignment
    # aggregate was re-derived for the query slice (4 scans in the plan);
    # the vector table and the per-vector cell assignment each
    # materialize once
    emb = emb.localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % _IVF_STRIDE == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("emb").alias("cvec")
    )
    scored = emb.join(F.broadcast(cents)).select(
        "vec_id",
        "emb",
        F.struct(
            F.round(_dot("emb", "cvec"), 6).alias("s"),
            (-F.col("cell_id")).alias("neg_cell"),
        ).alias("cand"),
    )
    cells = (
        scored.groupBy("vec_id")
        .agg(F.max("cand").alias("best"), F.first("emb").alias("emb"))
        .select("vec_id", "emb", (-F.col("best.neg_cell")).alias("cell_id"))
        .withColumn("c_n", F.sqrt(_dot("emb", "emb")))
        .localCheckpoint(eager=True)
    )
    queries = cells.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("cell_id").alias("q_cell"),
        F.col("c_n").alias("q_n"),
    )
    # per-side norms precomputed before the pair join (similarity.py r6)
    sim = F.round(_dot("q_emb", "emb") / (F.col("q_n") * F.col("c_n")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cells.join(
            F.broadcast(queries),
            (F.col("cell_id") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .drop("rn")
    )


@register(
    "q_events_approx_users",
    oracle="""
WITH b AS (
  SELECT event_type,
         ((user_id * 2654435761) % 4294967296) % 4096 AS bucket
  FROM events
)
SELECT event_type,
       CAST(COUNT(DISTINCT bucket) AS BIGINT) AS filled_buckets,
       CASE WHEN COUNT(DISTINCT bucket) < 4096
            THEN ROUND(CAST(-4096 AS DOUBLE)
                       * LN(CAST(1 AS DOUBLE)
                            - CAST(COUNT(DISTINCT bucket) AS DOUBLE) / 4096), 4)
            ELSE CAST(NULL AS DOUBLE) END AS approx_users,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b
GROUP BY event_type
""",
)
def q_events_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via linear counting.

    The at-scale cardinality estimator: per-group state is bounded at m=4096
    buckets (vs the exact distinct's shuffle of every (type, user) pair).
    Unlike HLL (engine-specific sketch layouts), linear counting over a
    deterministic multiplicative hash replays bit-for-bit in any engine:
    bucket = ((user_id * 2654435761) mod 2^32) mod 4096, estimate
    = -m * ln(1 - v/m) where v = distinct filled buckets. All-integer hash
    arithmetic; v/4096 is an exact double (power-of-two divisor), so the ln
    argument is identical across engines and 4-dp rounding absorbs the ≤1-ulp
    libm difference. v == m (saturated sketch) yields NULL on both sides.

    Reference parity: the reference exposes approximate distinct counts
    through its metrics layer; this is the Spark-side analog with a
    cross-engine-checkable estimator.
    """
    ev = load(spark, sf_dir, "events")
    m = 4096
    bucket = ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)) % F.lit(m)
    v = F.count_distinct(bucket).cast("bigint")
    est = F.round(
        F.lit(-float(m)) * F.log(F.lit(1.0) - v.cast("double") / F.lit(float(m))), 4
    )
    return ev.groupBy("event_type").agg(
        v.alias("filled_buckets"),
        F.when(v < m, est).otherwise(F.lit(None).cast("double")).alias("approx_users"),
        bcount("n"),
    )
