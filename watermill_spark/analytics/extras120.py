"""Analytics batch 128: Qini uplift curve, two-level (shard-merge)
deduplication, and group-sequential interim analysis.

The Qini curve is the uplift-model evaluation standard: rank the
population by a targeting score and plot cumulative INCREMENTAL
conversions against a random-targeting diagonal; the area (Qini
coefficient) is the model's targeting value. Two-level dedup is the
MapReduce shape every 100-TB dedup actually runs — dedup within shards,
then merge shard canonicals globally — and this query PROVES the
two-level result equals the single-pass global dedup. Group-sequential
testing with O'Brien–Fleming boundaries is the classical interim-look
machinery (4 looks, inflated early thresholds) that complements the
fully-continuous q_evalue_sequential / q_sprt_ab_sequential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .distrib import two_level_order
from .registry import load, register, spread

_N_SHARDS = 4
_LOOKS = 4
# O'Brien–Fleming two-sided 0.05 boundaries for 4 equally-spaced looks
# (z_k = z_OBF / sqrt(k/K); standard table values, fixed double literals)
_OBF_Z = (4.048591, 2.862786, 2.337455, 2.024295)


@register(
    "q_uplift_qini",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 = 1 AS treated,
             CAST(COUNT(*) AS BIGINT) AS n_ev,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ),
    ranked AS MATERIALIZED (
      SELECT treated, conv,
             row_number() OVER (ORDER BY n_ev DESC, user_id) AS rk,
             (SELECT COUNT(*) FROM per_user) AS n
      FROM per_user
    ),
    cum AS (
      SELECT rk, n,
             CAST(SUM(CASE WHEN treated THEN conv ELSE 0 END) OVER w
                  AS DOUBLE) AS ct,
             CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) OVER w
                  AS DOUBLE) AS nt,
             CAST(SUM(CASE WHEN NOT treated THEN conv ELSE 0 END) OVER w
                  AS DOUBLE) AS cc,
             CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) OVER w
                  AS DOUBLE) AS nc
      FROM ranked
      WINDOW w AS (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    deciles AS (
      SELECT CAST(ceil(10.0 * rk / n) AS BIGINT) AS decile,
             MAX(CASE WHEN nc > 0 THEN ct - cc * nt / nc ELSE ct END) AS qini
      FROM cum
      GROUP BY 1
    )
    SELECT decile,
           round(qini, 6) AS qini_cum_incremental
    FROM deciles
    ORDER BY decile
    """,
)
def q_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for activity-ranked uplift targeting: users ranked by
    event count (the stand-in targeting score), treatment = odd ids;
    at each cut the Qini value is cumulative treated conversions minus
    control conversions scaled to the treated exposure
    (CT − CC·NT/NC) — the incremental conversions attributable to
    targeting the top-k. Reported at decile cuts (the curve a targeting
    dashboard plots; its area vs the diagonal is the Qini coefficient).
    Evaluation companion to q_uplift_by_segment (which estimates
    segment uplift) and q_decile_lift (response, not uplift).

    Determinism: ranking is (score, user_id) total-ordered; cumulative
    counts are exact integers; the per-decile value takes the MAX (the
    decile's right edge).

    Scale: one per-user rollup, one global ordered window (same sort
    class as q_decile_lift), a 10-row output. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        bcount("n_ev"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    ).select(
        (F.col("user_id") % 2 == 1).alias("treated"), "n_ev", "conv", "user_id"
    )
    nrow = per_user.count()
    # r7 (guide §2.5): rank + the four cumulative integer counters ran as
    # FIVE single-task windows over the data-scaled user grid; ONE
    # two_level_order call computes the identical exact rank and integer
    # prefix sums (order-free: integer addition).
    cum = two_level_order(
        per_user.select(
            "n_ev",
            "user_id",
            F.when(F.col("treated"), F.col("conv")).otherwise(0).alias("i_ct"),
            F.when(F.col("treated"), 1).otherwise(0).alias("i_nt"),
            F.when(~F.col("treated"), F.col("conv")).otherwise(0).alias("i_cc"),
            F.when(~F.col("treated"), 1).otherwise(0).alias("i_nc"),
        ),
        [F.desc("n_ev"), F.asc("user_id")],
        rank_col="rk",
        sums=[
            {"col": c, "acc": "decimal(20,0)", "running": o}
            for c, o in [
                ("i_ct", "r_ct"),
                ("i_nt", "r_nt"),
                ("i_cc", "r_cc"),
                ("i_nc", "r_nc"),
            ]
        ],
        project=["i_ct", "i_nt", "i_cc", "i_nc"],
    ).select(
        "rk",
        F.col("r_ct").cast("double").alias("ct"),
        F.col("r_nt").cast("double").alias("nt"),
        F.col("r_cc").cast("double").alias("cc"),
        F.col("r_nc").cast("double").alias("nc"),
    )
    qini = F.when(
        F.col("nc") > 0,
        F.col("ct") - F.col("cc") * F.col("nt") / F.col("nc"),
    ).otherwise(F.col("ct"))
    return (
        cum.groupBy(
            F.ceil(10.0 * F.col("rk") / nrow).cast("bigint").alias("decile")
        )
        .agg(F.round(F.max(qini), 6).alias("qini_cum_incremental"))
        .orderBy("decile")
    )


@register(
    "q_dedup_two_level",
    oracle=f"""
    WITH shard_local AS (
      -- level 1: dedup within each shard (doc_id mod {_N_SHARDS})
      SELECT doc_id % {_N_SHARDS} AS shard, md5(text) AS h,
             CAST(MIN(doc_id) AS BIGINT) AS local_canonical,
             CAST(COUNT(*) AS BIGINT) AS local_copies
      FROM documents
      GROUP BY 1, 2
    ),
    merged AS (
      -- level 2: merge shard canonicals on the same content hash
      SELECT h,
             CAST(MIN(local_canonical) AS BIGINT) AS canonical_doc,
             CAST(SUM(local_copies) AS BIGINT) AS n_copies,
             CAST(COUNT(*) AS BIGINT) AS n_shards_present
      FROM shard_local
      GROUP BY 1
    ),
    direct AS (
      SELECT md5(text) AS h, CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
             CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT m.h AS text_hash,
           m.canonical_doc, m.n_copies, m.n_shards_present,
           CASE WHEN m.canonical_doc = d.canonical_doc
                 AND m.n_copies = d.n_copies THEN 1 ELSE 0 END
             AS matches_global
    FROM merged m JOIN direct d ON d.h = m.h
    WHERE m.n_copies > 1
    ORDER BY m.n_copies DESC, text_hash
    """,
)
def q_dedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (shard-merge) exact dedup, with a built-in proof of
    equivalence: level 1 dedups within each of 4 doc_id-mod shards
    (min-id canonical + copy count), level 2 merges shard canonicals on
    the content hash; every duplicate cluster row carries
    `matches_global` comparing against the single-pass global dedup
    (q_dedup_exact) — 1 everywhere, because MIN and SUM are associative.
    This IS the 100-TB dedup topology: shard-local combine slashes the
    shuffle volume to one row per (shard, hash) before the global merge
    — the map-side-combine argument made explicit as data.

    Determinism: md5 + integer counts; (copies desc, hash) total order.

    Scale: the two-level plan shuffles |distinct (shard, hash)| rows
    instead of |docs| — exactly the partial-aggregation shape Spark
    generates implicitly, materialized here for federated/incremental
    dedup where shards arrive separately. §2.B [NS] / LLM-pipeline
    surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    # checkpointed once (r6): the shard-local and the direct global
    # aggregation each re-scanned documents and re-ran the full-text md5
    # (2 scans in the plan); ONE hashed projection materializes once
    # (posting-list class: state linear in the doc domain) and BOTH
    # aggregations — still computed independently — read it
    hashed = docs.select(
        "doc_id", F.md5("text").alias("h")
    ).localCheckpoint(eager=True)
    shard_local = hashed.groupBy(
        (F.col("doc_id") % _N_SHARDS).alias("shard"), "h"
    ).agg(
        F.min("doc_id").cast("bigint").alias("local_canonical"),
        bcount("local_copies"),
    )
    merged = shard_local.groupBy("h").agg(
        F.min("local_canonical").cast("bigint").alias("canonical_doc"),
        F.sum("local_copies").cast("bigint").alias("n_copies"),
        bcount("n_shards_present"),
    )
    direct = hashed.groupBy("h").agg(
        F.min("doc_id").cast("bigint").alias("g_canonical"),
        F.count(F.lit(1)).cast("bigint").alias("g_copies"),
    )
    return (
        merged.join(direct, "h")
        .filter(F.col("n_copies") > 1)
        .select(
            F.col("h").alias("text_hash"),
            "canonical_doc",
            "n_copies",
            "n_shards_present",
            F.when(
                (F.col("canonical_doc") == F.col("g_canonical"))
                & (F.col("n_copies") == F.col("g_copies")),
                1,
            )
            .otherwise(0)
            .alias("matches_global"),
        )
        .orderBy(F.desc("n_copies"), F.asc("text_hash"))
    )


@register(
    "q_group_sequential_looks",
    oracle=f"""
    WITH seq AS (
      SELECT ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM events
    ),
    looks AS (
      SELECT ts, event_id, x, n,
             CAST(ceil({_LOOKS}.0 * (row_number() OVER (ORDER BY ts, event_id))
                       / n) AS BIGINT) AS look
      FROM seq
    ),
    cums AS (
      SELECT look,
             CAST(SUM(SUM(x)) OVER (ORDER BY look) AS BIGINT) AS s,
             CAST(SUM(COUNT(*)) OVER (ORDER BY look) AS BIGINT) AS m
      FROM looks GROUP BY look
    ),
    zs AS (
      SELECT look, s, m,
             (CAST(s AS DOUBLE) / m - 0.2)
               / sqrt(0.2 * 0.8 / m) AS z,
             CASE look WHEN 1 THEN CAST({_OBF_Z[0]!r} AS DOUBLE)
                       WHEN 2 THEN CAST({_OBF_Z[1]!r} AS DOUBLE)
                       WHEN 3 THEN CAST({_OBF_Z[2]!r} AS DOUBLE)
                       ELSE CAST({_OBF_Z[3]!r} AS DOUBLE) END
               AS boundary
      FROM cums
    )
    SELECT look, m AS n_cum, s AS conversions_cum,
           round(z, 6) AS z_score,
           round(boundary, 6) AS obf_boundary,
           CASE WHEN abs(z) >= boundary THEN 1 ELSE 0 END AS crosses
    FROM zs ORDER BY look
    """,
)
def q_group_sequential_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential interim analysis with O'Brien–Fleming boundaries:
    the event stream (time order) splits into 4 equal looks; at each,
    the cumulative purchase share is z-tested against p₀ = 0.2 and
    compared to the OBF boundary z_k = 4.049/√(k/4) — early looks need
    overwhelming evidence, the final look pays almost no penalty
    (2.024 vs 1.96). The committee-style interim machinery bracketing
    q_sprt_ab_sequential (continuous SPRT) and q_evalue_sequential
    (anytime-valid): fixed looks, exact spending.

    Determinism: look assignment is a total-order row_number; cumulative
    counts are exact integers; boundaries are fixed double literals
    (precomputed-transcendental rule).

    Scale: one ordered window pass + a 4-row rollup. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    # r7 (guide §2.5): look assignment needed a single-task row_number
    # over RAW events; the distributed two-level rank computes the
    # identical rank (unique (ts, event_id) order), and the ≤_LOOKS-row
    # cumulative window below is bounded.
    looks = two_level_order(
        ev.select(
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        ),
        ["ts", "event_id"],
        rank_col="rn",
        project=["x"],
    ).select(
        "x",
        F.ceil(_LOOKS * F.col("rn") / F.lit(n)).cast("bigint").alias("look"),
    )
    wl = Window.orderBy("look").rowsBetween(Window.unboundedPreceding, 0)
    cums = (
        looks.groupBy("look")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("cx"))
        .select(
            "look",
            F.sum("sx").over(wl).cast("bigint").alias("s"),
            F.sum("cx").over(wl).cast("bigint").alias("m"),
        )
    )
    z = (F.col("s").cast("double") / F.col("m") - 0.2) / F.sqrt(
        0.2 * 0.8 / F.col("m")
    )
    boundary = (
        F.when(F.col("look") == 1, F.lit(_OBF_Z[0]))
        .when(F.col("look") == 2, F.lit(_OBF_Z[1]))
        .when(F.col("look") == 3, F.lit(_OBF_Z[2]))
        .otherwise(F.lit(_OBF_Z[3]))
    )
    return cums.select(
        "look",
        F.col("m").alias("n_cum"),
        F.col("s").alias("conversions_cum"),
        F.round(z, 6).alias("z_score"),
        F.round(boundary, 6).alias("obf_boundary"),
        F.when(F.abs(z) >= boundary, 1).otherwise(0).alias("crosses"),
    ).orderBy("look")
