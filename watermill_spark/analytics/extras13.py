"""Analytics batch 21: vector quantization audit, conversion latency,
marketing attribution, graph degree distribution, inequality (Gini).

Determinism per :mod:`watermill_spark.analytics.det`. Float32 embeddings are
cast to DOUBLE *before* any arithmetic on both engines (float→double is
exact); quantization uses ``floor(x + 0.5)`` instead of ``round`` because
the engines' round-half modes differ while floor of an identical double is
identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, dsum
from .distrib import two_level_order
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register, spread

_WEEK_US = 7 * 86_400_000_000  # 7 days in microseconds


@register(
    "q_embedding_quantize_int8",
    oracle="""
    WITH ex AS (
      SELECT u.z[2] AS dim, CAST(u.z[1] AS DOUBLE) AS x
      FROM embeddings,
           unnest(list_zip(CAST(embedding AS DOUBLE[]),
                           range(1, len(embedding) + 1))) AS u(z)
    ),
    st AS (
      SELECT dim, MIN(x) AS mn, (MAX(x) - MIN(x)) / 255.0 AS scale,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ex GROUP BY 1
    ),
    q AS (
      SELECT ex.dim, st.mn, st.scale, st.n, ex.x,
             CASE WHEN st.scale = 0 THEN 0.0
                  ELSE least(255.0, greatest(0.0,
                         CAST(floor((ex.x - st.mn) / st.scale + 0.5) AS DOUBLE)))
             END AS qv
      FROM ex JOIN st USING (dim)
    )
    SELECT CAST(dim AS BIGINT) AS dim, MAX(n) AS n, MAX(scale) AS scale,
           round(CAST(SUM(CAST((mn + qv * scale - x) * (mn + qv * scale - x)
                               AS DECIMAL(28,18))) AS DOUBLE)
                 / CAST(MAX(n) AS DOUBLE), 12) AS mse
    FROM q GROUP BY 1
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 min/max quantization audit of the embedding corpus:
    computes each dimension's scale and the mean squared reconstruction
    error — the standard pre-flight check before shipping a quantized vector
    index.

    Scale: the exploded (row × 64) stream partial-aggregates map-side down
    to 64 stat rows, which broadcast back onto the second pass; the error
    sum goes through DECIMAL so partial order can't move it (final mse
    rounded 12dp — the JVM's shortest-string double→wide-decimal cast can
    wobble the 1e-18 quantization by one unit vs DuckDB's exact-binary
    cast, same as q_pagerank_nations). At 100 TB both
    passes stay two map-side-combined aggregations with one broadcast join —
    no large shuffle at any point. §2.B [NS] training-pipeline surface.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    ).select((F.col("pos") + 1).alias("dim"), "x")
    st = ex.groupBy("dim").agg(
        F.min("x").alias("mn"),
        ((F.max("x") - F.min("x")) / F.lit(255.0)).alias("scale"),
        bcount("n"),
    )
    q = ex.join(F.broadcast(st), "dim").withColumn(
        "qv",
        F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
            F.least(
                F.lit(255.0),
                F.greatest(
                    F.lit(0.0),
                    F.floor((F.col("x") - F.col("mn")) / F.col("scale") + F.lit(0.5))
                    .cast("double"),
                ),
            )
        ),
    )
    err = F.col("mn") + F.col("qv") * F.col("scale") - F.col("x")
    return q.groupBy(F.col("dim").cast("bigint").alias("dim")).agg(
        F.max("n").alias("n"),
        F.max("scale").alias("scale"),
        F.round(
            F.sum((err * err).cast("decimal(28,18)")).cast("double")
            / F.max("n").cast("double"),
            12,
        ).alias("mse"),
    )


@register(
    "q_conversion_latency",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS s_ts
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             epoch_us(MIN(ts)) - epoch_us(MAX(s_ts)) AS lat_us
      FROM marked
      WHERE event_type = 'purchase' AND s_ts IS NOT NULL AND ts >= s_ts
      GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           (CAST(SUM(lat_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
             / 86400000000.0 AS avg_days,
           quantile_cont(CAST(lat_us AS DOUBLE), 0.5) / 86400000000.0 AS p50_days,
           quantile_cont(CAST(lat_us AS DOUBLE), 0.9) / 86400000000.0 AS p90_days
    FROM per_user
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase conversion latency: per converted user the gap
    between their first signup and the first purchase at-or-after it, then
    the population mean / p50 / p90 in days. Latencies are exact BIGINT
    microseconds; the mean is exact-sum / count; the percentiles interpolate
    identical doubles on both engines.

    Scale: one window + one groupBy, both on user_id (single shuffle); the
    final stats run on the small converted-users aggregate. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w).alias("s_ts"),
    )
    per_user = (
        marked.filter(
            (F.col("event_type") == "purchase")
            & F.col("s_ts").isNotNull()
            & (F.col("ts") >= F.col("s_ts"))
        )
        .groupBy("user_id")
        .agg(
            (F.unix_micros(F.min("ts")) - F.unix_micros(F.max("s_ts"))).alias("lat_us")
        )
    )
    lat_d = F.col("lat_us").cast("double")
    day = F.lit(86400000000.0)
    return per_user.agg(
        bcount("n_converted"),
        (
            (F.sum("lat_us").cast("double") / F.count(F.lit(1)).cast("double")) / day
        ).alias("avg_days"),
        (F.percentile(lat_d, F.lit(0.5)) / day).alias("p50_days"),
        (F.percentile(lat_d, F.lit(0.9)) / day).alias("p90_days"),
    )


@register(
    "q_last_touch_attribution",
    oracle=f"""
    WITH touched AS (
      SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN {{'t': ts, 'et': event_type}} END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM events
    )
    SELECT CASE WHEN touch IS NULL
                  OR epoch_us(ts) - epoch_us(touch.t) > {_WEEK_US}
                THEN 'direct' ELSE touch.et END AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM touched
    WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY 1
    """,
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's value is credited to
    the user's most recent preceding non-purchase event within 7 days
    ('direct' when none) — the carry-forward is one IGNORE NULLS last_value
    over a struct, so touch type and touch time travel together.

    Scale: a single window shuffle on user_id followed by a tiny per-channel
    aggregate; no joins. §2.B [NS] surface.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(
            F.when(
                F.col("event_type") != "purchase",
                F.struct(F.col("ts").alias("t"), F.col("event_type").alias("et")),
            ),
            ignorenulls=True,
        )
        .over(w)
        .alias("touch"),
    )
    return (
        touched.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy(
            F.when(
                F.col("touch").isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros(F.col("touch.t"))
                    > F.lit(_WEEK_US)
                ),
                F.lit("direct"),
            )
            .otherwise(F.col("touch.et"))
            .alias("channel")
        )
        .agg(bcount("n_purchases"), dsum("value", "revenue"))
    )


@register(
    "q_degree_distribution",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({NATION_TRADE_EDGES_SQL})
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY 1
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the undirected nation trade graph — the
    first-look skew diagnostic before any graph algorithm (a heavy tail here
    is what forces degree-oriented wedge generation in q_trade_triangles).

    Scale: degree is one groupBy over the edge endpoints; the histogram is a
    second tiny aggregate. §2.B [NS] surface.
    """
    und = (
        nation_trade_edges(spark, sf_dir)
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    # checkpointed once (r6): the endpoint union references the edge set
    # twice, each re-deriving the 4-table fact join (2 lineitem scans in
    # the plan); the ≤|nations|² edge set materializes once
    und = und.localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select("b"))
        .groupBy("node")
        .agg(bcount("degree"))
    )
    return deg.groupBy("degree").agg(bcount("n_nodes"))


@register(
    "q_gini_customer_spend",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS x
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM spend
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(x) AS DOUBLE) AS total_spend,
           round((2.0 * CAST(SUM(i * x) AS DOUBLE))
                 / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
                 - (CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)),
                 12) AS gini
    FROM ranked
    """,
)
def q_gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration via the rank
    formula G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending-sorted spend.
    Both Σ terms stay DECIMAL (rank × decimal is exact); Σ(i·x) carries ~19
    significant digits, beyond double precision, so the decimal→double
    conversion is the one cross-engine ulp risk — absorbed by rounding the
    final coefficient to 12dp.

    Scale: per-customer spend partial-aggregates map-side; the global rank
    is the one genuinely serial step — at 100 TB replace row_number with a
    two-pass distributed rank (per-partition counts + offsets, the standard
    zipWithIndex decomposition); the Σ(i·x) form is chosen precisely because
    it only needs ranks, not pairwise differences. §2.B [NS] surface.
    """
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(F.sum(dec("o_totalprice")).alias("x"))
    # r7 (guide §2.5): the two-pass distributed rank the docstring promised
    # — distrib.two_level_order replaces the single-task row_number over
    # the data-scaled customer grid (identical ranks: unique total order).
    ranked = two_level_order(
        spend, ["x", "o_custkey"], rank_col="i", project=["x"]
    )
    n = F.count(F.lit(1)).cast("bigint")
    agg = ranked.agg(
        n.alias("n_customers"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    nd = F.col("n_customers").cast("double")
    return agg.select(
        "n_customers",
        F.col("sx").cast("double").alias("total_spend"),
        F.round(
            (F.lit(2.0) * F.col("six").cast("double")) / (nd * F.col("sx").cast("double"))
            - ((F.col("n_customers") + F.lit(1)).cast("double") / nd),
            12,
        ).alias("gini"),
    )
