"""Analytics batch 61: absorbing-Markov expected steps to purchase
(truncated Neumann iteration over the event transition matrix), two-arm
uplift by behavioral segment, and price-ending ladder analysis of the part
catalog.

The Markov iteration reuses the engine's unrolled-fixed-point idiom
(q_pagerank_nations, q_bfs_nation_hops): K identical relaxation rounds
written as chained CTEs in the oracle and a Python loop over DataFrames in
Spark, with per-term DECIMAL casts inside each round's sum so both engines
accumulate identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .registry import load, register
from .relations import FIRST_EVENT_TYPES_SQL, first_event_types

_MK_ROUNDS = 12

# one relaxation round: t_{k+1}(s) = 1 + sum_{s'} p(s,s') * t_k(s')
_MK_STEP_SQL = """
      SELECT p.src AS state,
             1.0 + COALESCE(CAST(SUM(CAST(p.pr * {prev}.t AS DECIMAL(28,18)))
                                 AS DOUBLE), 0.0) AS t
      FROM probs p
      LEFT JOIN {prev} ON {prev}.state = p.dst
      GROUP BY p.src
"""


@register(
    "q_markov_steps_to_purchase",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    trans AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE dst IS NOT NULL AND src <> 'purchase'
      GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM trans GROUP BY 1),
    probs AS (
      SELECT t.src, t.dst, CAST(t.c AS DOUBLE) / tt.n AS pr, t.c, tt.n
      FROM trans t JOIN tot tt ON tt.src = t.src
      WHERE t.dst <> 'purchase'
    ),
    t0 AS (SELECT src AS state, 0.0 AS t FROM tot),
    {",".join(f"t{k + 1} AS ({_MK_STEP_SQL.format(prev=f't{k}')})" for k in range(_MK_ROUNDS))}
    SELECT tt.src AS state, tt.n AS n_transitions,
           round(COALESCE(CAST(p.c AS DOUBLE) / tt.n, 0.0), 6)
             AS p_purchase_next,
           round(tn.t, 6) AS expected_steps_trunc
    FROM tot tt
    LEFT JOIN (SELECT src, c FROM trans WHERE dst = 'purchase') p
      ON p.src = tt.src
    JOIN t{_MK_ROUNDS} tn ON tn.state = tt.src
    """,
)
def q_markov_steps_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-Markov funnel depth: with `purchase` as the absorbing
    state and MLE transition probabilities from per-user consecutive event
    pairs, the expected number of steps to purchase from each state via
    12 truncated Neumann rounds t ← 1 + Q·t (the fixed-point
    form of (I−Q)⁻¹𝟙, truncated so both engines run the identical finite
    recursion) — the "how far is each state from conversion" summary that
    q_events_markov_transitions (raw matrix) and q_events_funnel (fixed
    path) don't answer.

    Determinism: transition probabilities are integer-count ratios; each
    round's Q·t products go per-term through DECIMAL(28,18) (the pagerank
    discipline), so round K is bit-identical cross-engine.

    Scale: the per-user lead() is one shuffle on user_id; the iteration
    runs on a ≤|states|² matrix — broadcast-sized forever. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("src"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("dst"),
    )
    trans = (
        seq.filter(F.col("dst").isNotNull() & (F.col("src") != "purchase"))
        .groupBy("src", "dst")
        .agg(bcount("c"))
    )
    tot = trans.groupBy("src").agg(F.sum("c").cast("bigint").alias("n"))
    probs = (
        trans.join(tot, "src")
        .filter(F.col("dst") != "purchase")
        .select("src", "dst", (F.col("c").cast("double") / F.col("n")).alias("pr"))
    ).localCheckpoint(eager=True)
    t = tot.select(F.col("src").alias("state"), F.lit(0.0).alias("t"))
    for _ in range(_MK_ROUNDS):
        t = (
            probs.join(
                F.broadcast(t.withColumnRenamed("state", "dst")), "dst", "left"
            )
            .groupBy(F.col("src").alias("state"))
            .agg(
                (
                    F.lit(1.0)
                    + F.coalesce(
                        F.sum(
                            (F.col("pr") * F.col("t")).cast("decimal(28,18)")
                        ).cast("double"),
                        F.lit(0.0),
                    )
                ).alias("t")
            )
        )
    to_purchase = trans.filter(F.col("dst") == "purchase").select("src", "c")
    return (
        tot.join(F.broadcast(to_purchase), "src", "left")
        .join(F.broadcast(t.withColumnRenamed("state", "src")), "src")
        .select(
            F.col("src").alias("state"),
            F.col("n").alias("n_transitions"),
            F.round(
                F.coalesce(F.col("c").cast("double") / F.col("n"), F.lit(0.0)), 6
            ).alias("p_purchase_next"),
            F.round("t", 6).alias("expected_steps_trunc"),
        )
    )


@register(
    "q_uplift_by_segment",
    oracle=f"""
    WITH firsts AS ({FIRST_EVENT_TYPES_SQL}),
    arms AS (
      SELECT f.user_id, f.first_type,
             CASE WHEN {sql_hexval("substr(md5('up1:' || CAST(f.user_id AS VARCHAR)), 1, 1)")} % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             MAX(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM firsts f JOIN events e USING (user_id)
      GROUP BY 1, 2, 3
    ),
    seg AS (
      SELECT first_type AS segment,
             CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 'A' THEN converted END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN converted END) AS BIGINT)
               AS conv_b
      FROM arms GROUP BY 1
    )
    SELECT segment, n_a, n_b,
           round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
           round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
           round(CAST(conv_b AS DOUBLE) / n_b
                 - CAST(conv_a AS DOUBLE) / n_a, 6) AS uplift
    FROM seg
    """,
)
def q_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-treatment-effect slice: conversion-rate uplift (B−A
    under the deterministic hash split) within behavioral segments defined
    by each user's *first* event type — the segment-level readout that
    turns q_ab_conversion_lift's single average effect into a targeting
    decision (which entry-behavior cohorts actually respond).

    Determinism: segment assignment is a row_number pick with (ts,
    event_id) tiebreak; everything else is integer counts and fixed-shape
    ratios.

    Scale: one window pass for first-events + one user-level rollup —
    both shuffle on user_id and collapse map-side; segments are a
    handful of rows. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    firsts = first_event_types(spark, sf_dir)
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("up1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    arms = (
        firsts.join(ev, "user_id")
        .groupBy("user_id", "first_type", arm.alias("arm"))
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "converted"
            )
        )
    )
    seg = arms.groupBy(F.col("first_type").alias("segment")).agg(
        F.count_if(F.col("arm") == "A").cast("bigint").alias("n_a"),
        F.count_if(F.col("arm") == "B").cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")))
        .cast("bigint")
        .alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    return seg.select(
        "segment",
        "n_a",
        "n_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(rate_b - rate_a, 6).alias("uplift"),
    )


@register(
    "q_price_endings",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(p_retailprice * 100) AS BIGINT) % 100 AS ending,
             p_partkey
      FROM part
    ),
    hist AS (
      SELECT ending, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_parts) AS BIGINT) AS n FROM hist)
    SELECT ending, n_parts,
           round(CAST(n_parts AS DOUBLE) / n, 6) AS share,
           CASE WHEN ending IN (0, 50) THEN 'round'
                WHEN ending IN (95, 99) THEN 'charm' ELSE 'other' END AS class
    FROM hist, tot
    ORDER BY n_parts DESC, ending
    LIMIT 10
    """,
)
def q_price_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-ending ladder: the top-10 cent endings (price·100 mod 100) in
    the part catalog with share and a round/charm classification — the
    psychological-pricing audit (are prices set at .99/.95 "charm" points
    or round numbers?) that complements q_benford_digit_audit's leading-
    digit view with the trailing-digit one.

    Determinism: endings are exact integers from cents; top-10 has an
    `ending` tiebreak.

    Scale: 100-bucket histogram, fully map-side combined. §2.B [NS].
    """
    p = load(spark, sf_dir, "part")
    cents = p.select(
        (F.round(F.col("p_retailprice") * 100, 0).cast("bigint") % 100).alias(
            "ending"
        )
    )
    hist = cents.groupBy("ending").agg(bcount("n_parts"))
    tot = hist.agg(F.sum("n_parts").cast("bigint").alias("n"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "ending",
            "n_parts",
            F.round(F.col("n_parts").cast("double") / F.col("n"), 6).alias("share"),
            F.when(F.col("ending").isin(0, 50), "round")
            .when(F.col("ending").isin(95, 99), "charm")
            .otherwise("other")
            .alias("class"),
        )
        .orderBy(F.col("n_parts").desc(), "ending")
        .limit(10)
    )
