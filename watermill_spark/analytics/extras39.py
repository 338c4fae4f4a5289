"""Analytics batch 47: semi-structured schema-drift audit (JSON key
census), count-data overdispersion test, experiment power / minimum
detectable effect, and first-vs-repeat order economics.

The JSON audit exercises the engine's semi-structured path
(json_object_keys / json_keys + per-key extraction) the way an ingestion
monitor would — catching producers that add or drop payload fields. The
statistics follow the house determinism rules: integer counts, DECIMAL
moment sums, fixed-shape double algebra with literal z constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_json_key_audit",
    oracle="""
    WITH keyed AS (
      SELECT unnest(json_keys(props)) AS key, props
      FROM events WHERE props IS NOT NULL
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events WHERE props IS NOT NULL
    )
    SELECT key,
           CAST(COUNT(*) AS BIGINT) AS n_present,
           round(CAST(COUNT(*) AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
             AS presence_share,
           CAST(COUNT(DISTINCT json_extract_string(props, '$.' || key))
                AS BIGINT) AS distinct_values
    FROM keyed, tot
    GROUP BY key, n_rows
    """,
)
def q_json_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema census: for every key appearing in the events
    JSON payload, its presence share and distinct-value cardinality — the
    drift monitor that catches a producer silently adding, dropping, or
    exploding the cardinality of a payload field before it breaks
    downstream `from_json` schemas.

    Scale: key explosion is linear in payload keys; the census is one
    map-side-combined groupBy per key plus a distinct-count (swap in
    approx_count_distinct at 100 TB, same output shape). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    # single props pass (r6): n_rows re-scanned the heavy props column
    # just to count non-null rows. posexplode_outer emits exactly ONE
    # pos∈{0,NULL} marker row per source row (0 for non-empty key
    # arrays, NULL for empty/invalid ones, which the old explode
    # dropped and the old count kept), so the row count folds into the
    # same pass; the per-key value extraction moves inside the row
    # (identical get_json_object per (props, key) pair, just relocated)
    # so the checkpointed stream is the narrow (pos, key, val) grid —
    # no props re-read, and the state carries values, not payloads.
    pairs = (
        ev.select(
            F.posexplode_outer(
                F.expr(
                    "transform(json_object_keys(props), "
                    "k -> struct(k AS key, "
                    "get_json_object(props, concat('$.', k)) AS val))"
                )
            ).alias("pos", "kv")
        )
        .select("pos", F.col("kv.key").alias("key"), F.col("kv.val").alias("val"))
        .localCheckpoint(eager=True)
    )
    keyed = pairs.filter(F.col("key").isNotNull())
    tot = pairs.filter((F.col("pos") == 0) | F.col("pos").isNull()).agg(
        bcount("n_rows")
    )
    return (
        keyed.crossJoin(F.broadcast(tot))
        .groupBy("key", "n_rows")
        .agg(
            bcount("n_present"),
            F.countDistinct("val").cast("bigint").alias("distinct_values"),
        )
        .select(
            "key",
            "n_present",
            F.round(
                F.col("n_present").cast("double") / F.col("n_rows").cast("double"),
                6,
            ).alias("presence_share"),
            "distinct_values",
        )
    )


@register(
    "q_overdispersion",
    oracle="""
    WITH wk AS (
      SELECT user_id, date_trunc('week', ts) AS w,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS sc2
      FROM wk
    )
    SELECT n,
           round(CAST(sc AS DOUBLE) / n, 6) AS mean_count,
           round((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
                  * CAST(sc AS DOUBLE) / n) / (n - 1), 6) AS var_count,
           round(((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
                   * CAST(sc AS DOUBLE) / n) / (n - 1))
                 / (CAST(sc AS DOUBLE) / n), 6) AS dispersion_index,
           round((n - 1) * (((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
                              * CAST(sc AS DOUBLE) / n) / (n - 1))
                            / (CAST(sc AS DOUBLE) / n)), 4) AS chi2_stat
    FROM s
    """,
)
def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-data overdispersion test on per-user weekly event counts:
    variance-to-mean dispersion index (1 under Poisson) and the
    (n−1)·D χ² statistic — the check that decides between Poisson and
    negative-binomial models for activity data (and whether a rate alert's
    Poisson bands are too tight).

    Counts are integers, so the moment sums are exact BIGINTs; the index is
    fixed-shape double algebra.

    Scale: one (user, week) groupBy then a 1-row moment collapse. §2.B
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    wk = ev.groupBy("user_id", F.date_trunc("week", "ts").alias("w")).agg(
        bcount("c")
    )
    s = wk.agg(
        bcount("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    n = F.col("n")
    mean = F.col("sc").cast("double") / n
    var = (
        F.col("sc2").cast("double")
        - F.col("sc").cast("double") * F.col("sc").cast("double") / n
    ) / (n - 1)
    return s.select(
        "n",
        F.round(mean, 6).alias("mean_count"),
        F.round(var, 6).alias("var_count"),
        F.round(var / mean, 6).alias("dispersion_index"),
        F.round((n - 1) * (var / mean), 4).alias("chi2_stat"),
    )


@register(
    "q_power_mde",
    oracle="""
    WITH arms AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM arms
    )
    SELECT n_users, n_conv,
           round(CAST(n_conv AS DOUBLE) / n_users, 6) AS base_rate,
           round((1.959964 + 0.841621)
                 * sqrt(2 * (CAST(n_conv AS DOUBLE) / n_users)
                        * (1 - CAST(n_conv AS DOUBLE) / n_users)
                        / (CAST(n_users AS DOUBLE) / 2)), 6)
             AS mde_abs,
           round(((1.959964 + 0.841621)
                  * sqrt(2 * (CAST(n_conv AS DOUBLE) / n_users)
                         * (1 - CAST(n_conv AS DOUBLE) / n_users)
                         / (CAST(n_users AS DOUBLE) / 2)))
                 / (CAST(n_conv AS DOUBLE) / n_users) * 100, 2)
             AS mde_rel_pct
    FROM s
    """,
)
def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planning: with the observed user base split 50/50
    and the observed conversion base rate, the minimum detectable effect at
    α=0.05 (two-sided), power=0.80 — MDE = (z₀.₉₇₅+z₀.₈)·√(2p(1−p)/n) —
    the "is this experiment even worth running" number (companion to
    q_ab_hash_split and q_ab_conversion_lift).

    z constants are fixed literals (1.959964, 0.841621) written identically
    on both engines; everything else is one exact count pass plus
    fixed-shape double algebra.

    Scale: one map-side-combined user aggregation → 1 row. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    )
    s = arms.agg(
        bcount("n_users"), F.sum("conv").cast("bigint").alias("n_conv")
    )
    p = F.col("n_conv").cast("double") / F.col("n_users")
    mde = (F.lit(1.959964) + F.lit(0.841621)) * F.sqrt(
        F.lit(2) * p * (1 - p) / (F.col("n_users").cast("double") / 2)
    )
    return s.select(
        "n_users",
        "n_conv",
        F.round(p, 6).alias("base_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p * 100, 2).alias("mde_rel_pct"),
    )


@register(
    "q_first_vs_repeat_aov",
    oracle="""
    WITH lab AS (
      SELECT o_totalprice,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             CASE WHEN o_orderdate = MIN(o_orderdate)
                    OVER (PARTITION BY o_custkey) THEN 1 ELSE 0 END AS is_first
      FROM orders
    )
    SELECT yr,
           CAST(COUNT(*) FILTER (WHERE is_first = 1) AS BIGINT)
             AS n_first_orders,
           CAST(COUNT(*) FILTER (WHERE is_first = 0) AS BIGINT)
             AS n_repeat_orders,
           round(CAST(SUM(CASE WHEN is_first = 1
                          THEN CAST(o_totalprice AS DECIMAL(18,6)) END)
                      AS DOUBLE)
                 / COUNT(*) FILTER (WHERE is_first = 1), 6) AS first_aov,
           round(CAST(SUM(CASE WHEN is_first = 0
                          THEN CAST(o_totalprice AS DECIMAL(18,6)) END)
                      AS DOUBLE)
                 / COUNT(*) FILTER (WHERE is_first = 0), 6) AS repeat_aov,
           round((CAST(SUM(CASE WHEN is_first = 0
                           THEN CAST(o_totalprice AS DECIMAL(18,6)) END)
                       AS DOUBLE)
                  / COUNT(*) FILTER (WHERE is_first = 0))
                 / (CAST(SUM(CASE WHEN is_first = 1
                             THEN CAST(o_totalprice AS DECIMAL(18,6)) END)
                         AS DOUBLE)
                    / COUNT(*) FILTER (WHERE is_first = 1)), 4)
             AS repeat_to_first_ratio
    FROM lab GROUP BY yr
    """,
)
def q_first_vs_repeat_aov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order vs repeat-order average order value by year: is the
    second-and-later purchase bigger than the first, and is the gap
    widening — the unit-economics readout behind acquisition-vs-retention
    budget splits.

    First orders are flagged with a per-customer MIN window (ties on the
    same first date all count as first — deterministic, no row_number
    arbitrariness); AOVs are exact-decimal sums over integer counts.

    Scale: one customer-partitioned window + one year groupBy. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    lab = o.select(
        "o_totalprice",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.when(
            F.col("o_orderdate")
            == F.min("o_orderdate").over(W.partitionBy("o_custkey")),
            1,
        )
        .otherwise(0)
        .alias("is_first"),
    )
    first_sum = F.sum(
        F.when(F.col("is_first") == 1, dec("o_totalprice"))
    ).cast("double")
    rep_sum = F.sum(
        F.when(F.col("is_first") == 0, dec("o_totalprice"))
    ).cast("double")
    n_first = F.count_if(F.col("is_first") == 1)
    n_rep = F.count_if(F.col("is_first") == 0)
    return lab.groupBy("yr").agg(
        n_first.cast("bigint").alias("n_first_orders"),
        n_rep.cast("bigint").alias("n_repeat_orders"),
        F.round(first_sum / n_first, 6).alias("first_aov"),
        F.round(rep_sum / n_rep, 6).alias("repeat_aov"),
        F.round((rep_sum / n_rep) / (first_sum / n_first), 4).alias(
            "repeat_to_first_ratio"
        ),
    )
