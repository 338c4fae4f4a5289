"""Analytics batch 34: warehouse history & pipeline evaluation — SCD
type-2 history construction (gaps-and-islands), dormancy/win-back
detection, daily VWAP with a rolling variant, and precision/recall of the
MinHash-LSH candidate generator against exact-Jaccard ground truth (the
engine evaluating its own dedup pipeline).

Reference pipeline pieces reused verbatim from dedup.py (same md5 hash
family, same 4×2 banding), so the evaluation measures the production
configuration, not a toy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import (
    _SQL_MINHASH_CTES_SAMPLED,
    diagnostic_doc_sample,
    lsh_candidate_pairs,
    minhash_signatures,
)
from .det import bcount, dec
from .registry import load, register, spread


@register(
    "q_scd2_history",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rnt
      FROM events
    ),
    seg AS (
      SELECT user_id, event_type, rn - rnt AS grp,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM r GROUP BY 1, 2, 3
    ),
    scd AS (
      SELECT user_id, event_type, valid_from, n_events,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from) AS valid_to
      FROM seg
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           valid_from, valid_to,
           CAST(n_events AS BIGINT) AS n_events,
           valid_to IS NULL AS is_current
    FROM scd
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: per user, maximal runs of
    the same event type become versioned rows with [valid_from, valid_to)
    intervals (valid_to = next segment's start, NULL = current) — the
    islands half of gaps-and-islands, shaped as the warehouse-history
    operator.

    Segment identity is the classic rn − rn_per_type difference under a
    total order (ts, event_id) — pure integer window math.

    Scale: all three windows and the segment groupBy cluster on user_id —
    the whole history build rides one exchange. The streaming twin is
    applyInPandasWithState keeping one open segment per key. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wut = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    r = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.row_number().over(wu).alias("rn"),
        F.row_number().over(wut).alias("rnt"),
    )
    seg = r.groupBy(
        "user_id", "event_type", (F.col("rn") - F.col("rnt")).alias("grp")
    ).agg(F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events"))
    scd = seg.select(
        "user_id",
        "event_type",
        "valid_from",
        "n_events",
        F.lead("valid_from")
        .over(Window.partitionBy("user_id").orderBy("valid_from"))
        .alias("valid_to"),
    )
    return scd.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        "valid_from",
        "valid_to",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("valid_to").isNull().alias("is_current"),
    )


@register(
    "q_dormancy_winback",
    oracle="""
    WITH g AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    ),
    w AS (
      SELECT date_trunc('quarter', o_orderdate) AS q,
             o_custkey, o_totalprice, gap_days
      FROM g WHERE gap_days > 180
    )
    SELECT CAST(q AS TIMESTAMP) AS quarter,
           CAST(COUNT(*) AS BIGINT) AS n_reactivations,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS winback_revenue,
           round(CAST(SUM(CAST(gap_days AS BIGINT)) AS DOUBLE) / COUNT(*), 4)
             AS avg_dormancy_days
    FROM w GROUP BY 1
    """,
)
def q_dormancy_winback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Win-back report: orders placed after a >180-day dormancy gap,
    rolled up per quarter — how many customers reactivated, the revenue
    of the reactivating orders, and the average dormancy served.

    Scale: the gap lag partitions by customer (one exchange), the quarter
    rollup is the second; integers and exact decimals throughout. §2.B
    [NS].
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    )
    react = g.filter(F.col("gap_days") > 180)
    return react.groupBy(
        F.date_trunc("quarter", "o_orderdate").alias("quarter")
    ).agg(
        bcount("n_reactivations"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        F.round(F.sum(dec("o_totalprice")).cast("double"), 4).alias(
            "winback_revenue"
        ),
        F.round(
            F.sum(F.col("gap_days").cast("bigint")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_dormancy_days"),
    )


@register(
    "q_vwap_daily",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', l_shipdate) AS day,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS value_sum,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty_sum
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT day, value_sum, qty_sum,
             SUM(value_sum) OVER w AS v5, SUM(qty_sum) OVER w AS q5,
             COUNT(*) OVER w AS n5
      FROM d
      WINDOW w AS (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           round(CAST(qty_sum AS DOUBLE), 4) AS total_qty,
           round(CAST(value_sum AS DOUBLE) / CAST(qty_sum AS DOUBLE), 6)
             AS vwap,
           round(CAST(v5 AS DOUBLE) / CAST(q5 AS DOUBLE), 6) AS vwap_5d
    FROM r WHERE n5 = 5
    """,
)
def q_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-weighted average unit price (Σ extendedprice / Σ
    quantity — extendedprice is already price×qty in this schema) plus a
    5-day rolling VWAP — the market-data aggregate, complementing the
    per-user TWAP.

    Both numerator and denominator are exact decimal sums (day level and
    window level); the single double division per row is engine-identical.

    Scale: one fact shuffle to the |days| grid; the rolling frame is a
    calendar-bounded single-partition pass like the Bollinger window.
    §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    d = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        F.sum(dec("l_extendedprice")).alias("value_sum"),
        F.sum(dec("l_quantity")).alias("qty_sum"),
    )
    w = Window.orderBy("day").rowsBetween(-4, 0)
    r = d.select(
        "day",
        "value_sum",
        "qty_sum",
        F.sum("value_sum").over(w).alias("v5"),
        F.sum("qty_sum").over(w).alias("q5"),
        F.count(F.lit(1)).over(w).alias("n5"),
    )
    return r.filter(F.col("n5") == 5).select(
        "day",
        F.round(F.col("qty_sum").cast("double"), 4).alias("total_qty"),
        F.round(
            F.col("value_sum").cast("double") / F.col("qty_sum").cast("double"), 6
        ).alias("vwap"),
        F.round(F.col("v5").cast("double") / F.col("q5").cast("double"), 6).alias(
            "vwap_5d"
        ),
    )


@register(
    "q_lsh_precision_recall",
    oracle=_SQL_MINHASH_CTES_SAMPLED
    + """,
    toksets AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
      FROM sdocs
    ),
    tok AS (
      SELECT doc_id, unnest(ts) AS tok FROM toksets
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN toksets ta ON ta.doc_id = i.doc_a
      JOIN toksets tb ON tb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE)
            / (len(ta.ts) + len(tb.ts) - i.n_inter) >= 0.5
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM cand) AS n_cand,
             (SELECT COUNT(*) FROM cand c
              JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS tp
    )
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(tp AS BIGINT) AS true_positives,
           CAST(n_cand - tp AS BIGINT) AS false_positives,
           CAST(n_truth - tp AS BIGINT) AS false_negatives,
           round(CAST(tp AS DOUBLE) / n_cand, 6) AS precision,
           round(CAST(tp AS DOUBLE) / n_truth, 6) AS recall
    FROM m
    """,
)
def q_lsh_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline grading itself: precision/recall of the MinHash-
    LSH candidate generator (8 hashes, 4 bands of 2 — the production
    configuration from dedup.py, reused verbatim) against exact-Jaccard
    ≥ 0.5 ground truth. This is the query that justifies the banding
    parameters with numbers instead of the S-curve formula.

    Ground truth enumerates only pairs sharing ≥1 token (pairs with empty
    intersection have Jaccard 0 and cannot reach any threshold), via the
    token-keyed join — the same candidate shape as containment.

    Scale (the sampled path the previous docstring promised, made real
    after the sf5 engine sweep caught this query >300 s): the exact-
    Jaccard ground truth AND the clique candidates are quadratic by
    ground truth on this corpus (~11G clique pairs at sf5). Grading is a
    DIAGNOSTIC — precision/recall estimates need only a sample — so both
    sides run on the deterministic ``diagnostic_doc_sample`` (full corpus
    ≤ 5000 docs, so every sf ≤ 0.1 value is unchanged; 1/16 md5 doc-slice
    above = uniform 1/256 pair sample), mirrored in the oracle's sdocs
    CTE. Production dedup (star edges / clusters) runs in full and never
    enumerates cliques. §2.B [NS].
    """
    docs = diagnostic_doc_sample(spread(load(spark, sf_dir, "documents")))
    cand = lsh_candidate_pairs(minhash_signatures(docs))
    toksets = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ts")
    )
    tok = toksets.select("doc_id", F.explode("ts").alias("tok"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ta = toksets.select(F.col("doc_id").alias("doc_a"), F.size("ts").alias("na"))
    tb = toksets.select(F.col("doc_id").alias("doc_b"), F.size("ts").alias("nb"))
    truth = (
        inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
            >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    # one pass for all three counts (the three separate .count() calls
    # recomputed the quadratic truth DAG three times — sf5 sweep finding)
    both = cand.withColumn("c", F.lit(1)).join(
        truth.withColumn("t", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    r = both.agg(
        F.count("c").alias("n_cand"),
        F.count("t").alias("n_truth"),
        F.count(F.when(F.col("c").isNotNull() & F.col("t").isNotNull(), 1)).alias("tp"),
    ).collect()[0]
    n_truth, n_cand, tp = r["n_truth"], r["n_cand"], r["tp"]
    # ratios as Spark expressions (SQL half-away rounding, matching the
    # oracle — Python round() would use banker's rounding)
    one = spark.range(1)
    return one.select(
        F.lit(n_truth).cast("bigint").alias("n_truth"),
        F.lit(n_cand).cast("bigint").alias("n_candidates"),
        F.lit(tp).cast("bigint").alias("true_positives"),
        F.lit(n_cand - tp).cast("bigint").alias("false_positives"),
        F.lit(n_truth - tp).cast("bigint").alias("false_negatives"),
        F.round(F.lit(tp).cast("double") / F.lit(n_cand), 6).alias("precision"),
        F.round(F.lit(tp).cast("double") / F.lit(n_truth), 6).alias("recall"),
    )
