"""Analytics batch 44: ML data-prep operators — feature-hashing collision
audit, balanced class weights, STL-residual anomaly days, and the
Nelson–Aalen cumulative hazard (the additive companion to the
Kaplan–Meier product estimator in extras17).

The hashing audit reuses the portable md5 bucket idiom; the anomaly query
composes the STL-lite decomposition (extras32) into a normalized-residual
top-k; Nelson–Aalen shares the exact-integer risk-set machinery of the KM
query with a DECIMAL-summed cumulative hazard instead of a windowed
product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .registry import load, register, spread
from .relations import STL_SEASONAL_SQL, stl_seasonal


@register(
    "q_feature_hash_collisions",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    hashed AS (
      SELECT p_name,
             {sql_hexval("substr(md5(p_name), 1, 1)")} * 16
             + {sql_hexval("substr(md5(p_name), 2, 1)")} AS bucket
      FROM names
    ),
    loads AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS load FROM hashed GROUP BY 1
    )
    SELECT load AS bucket_load,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(load * COUNT(*) AS BIGINT) AS n_names
    FROM loads GROUP BY 1
    """,
)
def q_feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit: hash every distinct
    part name into 256 buckets and report the bucket-load histogram — how
    many features land alone vs collide, the measurement behind choosing a
    hash-feature dimensionality before training on 100 TB of raw
    categoricals.

    The md5 bucket is portable across engines; everything else is integer
    counting.

    Scale: distinct → map-side hash → two groupBys, all combinable; the
    histogram is ≤max_load rows. §2.B [NS].
    """
    part = load(spark, sf_dir, "part")
    h = F.md5(F.col("p_name"))
    bucket = (
        hexval(F.substring(h, 1, 1)) * 16
        + hexval(F.substring(h, 2, 1))
    ).alias("bucket")
    loads = (
        part.select("p_name")
        .distinct()
        .select(bucket)
        .groupBy("bucket")
        .agg(bcount("load"))
    )
    return loads.groupBy(F.col("load").alias("bucket_load")).agg(
        bcount("n_buckets"),
        (F.col("bucket_load") * F.count(F.lit(1))).cast("bigint").alias("n_names"),
    )


@register(
    "q_class_weights",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM c
    )
    SELECT lang, n_docs,
           round(CAST(total AS DOUBLE)
                 / (CAST(k AS DOUBLE) * CAST(n_docs AS DOUBLE)), 6)
             AS class_weight
    FROM c, t
    """,
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced class weights (sklearn's n/(k·nⱼ)) over the language label
    of the document corpus — the loss-reweighting table a trainer feeds to
    counter class imbalance.

    Scale: one map-side-combined count + a 1-row broadcast. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    # checkpointed once (r6): the total and the final select both
    # re-derived the counts (2 documents scans in the plan); the
    # ≤|langs| grid materializes once
    c = docs.groupBy("lang").agg(bcount("n_docs")).localCheckpoint(eager=True)
    t = c.agg(
        F.sum("n_docs").cast("bigint").alias("total"), bcount("k")
    )
    return c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        F.round(
            F.col("total").cast("double")
            / (F.col("k").cast("double") * F.col("n_docs").cast("double")),
            6,
        ).alias("class_weight"),
    )


@register(
    "q_stl_anomaly_days",
    oracle=f"""
    WITH seas AS (
      SELECT d, y, detr, detr - seasonal AS rem FROM ({STL_SEASONAL_SQL})
    ),
    sig AS (
      SELECT sqrt(CAST(SUM(CAST(rem * rem AS DECIMAL(28,9))) AS DOUBLE)
                  / (COUNT(*) - 1)) AS rms
      FROM seas
    )
    SELECT CAST(d AS TIMESTAMP) AS d, round(y, 6) AS revenue,
           round(rem, 6) AS remainder,
           round(ABS(rem) / rms, 4) AS anomaly_score
    FROM seas, sig
    ORDER BY ABS(rem) / rms DESC, d
    LIMIT 10
    """,
)
def q_stl_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly detection: run the STL-lite decomposition
    (7-day trend, ISO-dow seasonal — same pipeline as q_stl_lite) and rank
    days by |remainder| / RMS(remainder) — the top-10 days whose revenue
    can't be explained by trend + weekly shape, i.e. the days worth
    investigating.

    Scores are fixed-shape doubles over DECIMAL-summed components; ordering
    uses the raw (bit-identical) score with a day tiebreak.

    Scale: identical to q_stl_lite — ordered windows only ever see the
    ~2.5k-row daily grid; top-10 is TakeOrderedAndProject. §2.B [NS].
    """
    seas = stl_seasonal(spark, sf_dir).select(
        "d", "y", (F.col("detr") - F.col("seasonal")).alias("rem")
    )
    sig = seas.agg(
        F.sqrt(
            F.sum((F.col("rem") * F.col("rem")).cast("decimal(28,9)")).cast(
                "double"
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("rms")
    )
    return (
        seas.crossJoin(F.broadcast(sig))
        .orderBy(F.desc(F.abs(F.col("rem")) / F.col("rms")), "d")
        .limit(10)
        .select(
            F.col("d").cast("timestamp").alias("d"),
            F.round("y", 6).alias("revenue"),
            F.round("rem", 6).alias("remainder"),
            F.round(F.abs(F.col("rem")) / F.col("rms"), 4).alias("anomaly_score"),
        )
    )


@register(
    "q_nelson_aalen",
    oracle="""
    WITH life AS (
      SELECT o_custkey,
             CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                  AS BIGINT) AS t,
             MAX(o_orderdate) AS last_d
      FROM orders GROUP BY 1
    ),
    lab AS (
      SELECT t,
             CASE WHEN date_diff('day', last_d, MAX(last_d) OVER ()) < 90
                  THEN 1 ELSE 0 END AS censored
      FROM life
    ),
    grid AS (
      SELECT t,
             CAST(SUM(1 - censored) AS BIGINT) AS d_events,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM lab GROUP BY 1
    ),
    risk AS (
      SELECT t, d_events,
             CAST(SUM(leaving) OVER (
               ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT t AS lifetime_days, n_risk, d_events,
           round(CAST(SUM(CAST(CAST(d_events AS DOUBLE)
                                / CAST(n_risk AS DOUBLE)
                                AS DECIMAL(18,12))) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS DOUBLE), 6) AS cum_hazard
    FROM risk
    """,
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard of customer lifetime: H(t) =
    Σ_{tᵢ≤t} dᵢ/nᵢ with the same churn-event / 90-day right-censoring setup
    as q_kaplan_meier_retention — the additive estimator preferred for
    hazard-rate inspection (its slope IS the churn intensity), where KM
    gives the survival curve.

    The risk set is the same exact reverse cumulative BIGINT sum; each
    hazard increment dᵢ/nᵢ is one double division cast to DECIMAL(18,12)
    before the cumulative window sum, so the running hazard is exact given
    the per-term doubles (which are bit-identical by fixed shape).

    Scale: per-customer reduce, then all windows run on the ≤|distinct
    lifetime| grid (date-range bound, SF-invariant). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    life = orders.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
        .cast("bigint")
        .alias("t"),
        F.max("o_orderdate").alias("last_d"),
    )
    # r7 (guide §2.5): the dataset-max date ran as an unpartitioned
    # window over the data-scaled customer grid (every customer row
    # through ONE task); the grid now materializes once and the scalar
    # max is a parallel aggregate attached back as the audited 1-row
    # broadcast cross join.
    life = life.localCheckpoint(eager=True)
    mxd = life.agg(F.max("last_d").alias("_mxd"))
    lab = life.crossJoin(F.broadcast(mxd)).select(
        "t",
        F.when(F.datediff(F.col("_mxd"), F.col("last_d")) < 90, 1)
        .otherwise(0)
        .alias("censored"),
    )
    grid = lab.groupBy("t").agg(
        F.sum(F.lit(1) - F.col("censored")).cast("bigint").alias("d_events"),
        bcount("leaving"),
    )
    wrev = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = grid.select(
        "t",
        "d_events",
        F.sum("leaving").over(wrev).cast("bigint").alias("n_risk"),
    )
    haz = (
        F.col("d_events").cast("double") / F.col("n_risk").cast("double")
    ).cast("decimal(18,12)")
    return risk.select(
        F.col("t").alias("lifetime_days"),
        "n_risk",
        "d_events",
        F.round(F.sum(haz).over(wcum).cast("double"), 6).alias("cum_hazard"),
    )
