"""Analytics batch 6: ordered string aggregation, array higher-order
functions, map construction/lookup, calendar densification, JSON roundtrip.

Determinism notes:
- string_agg / listagg is only hashable cross-engine when the element order
  is total: Spark sorts the collected array (`array_sort(collect_list(..))`),
  DuckDB uses ``ORDER BY`` inside the aggregate.
- Array folds evaluate left-to-right in both engines (same element order →
  bit-identical doubles).
- JSON *strings* are never compared (formatting differs across engines);
  only values extracted back out of the JSON are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from .det import bcount
from .registry import load, register, spread


@register(
    "q_string_agg",
    oracle="""
    SELECT n_nationkey, n_name,
           string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           CAST(COUNT(s_name) AS BIGINT) AS n_suppliers
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): supplier roster per nation.

    collect_list has nondeterministic arrival order under parallel partial
    aggs — array_sort before joining makes the result total-ordered and
    therefore stable at any parallelism (the only safe listagg at scale).
    """
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    joined = nation.join(
        supplier, supplier.s_nationkey == nation.n_nationkey, "left"
    )
    return joined.groupBy("n_nationkey", "n_name").agg(
        # string_agg of zero rows is NULL (not ''): nullif aligns the
        # no-supplier nations with the SQL semantics
        F.nullif(
            F.concat_ws(",", F.array_sort(F.collect_list("s_name"))), F.lit("")
        ).alias("suppliers"),
        F.count("s_name").cast("bigint").alias("n_suppliers"),
    )


@register(
    "q_array_hof",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS BIGINT)
             AS n_pos,
           CAST(len(CAST(embedding AS DOUBLE[])) AS BIGINT) AS dim,
           round(list_reduce(list_prepend(0.0,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> CASE WHEN x > 0.5 THEN 0.5 WHEN x < -0.5 THEN -0.5 ELSE x END)),
                 (acc, x) -> acc + x), 6) AS clipped_sum,
           CASE WHEN list_max(CAST(embedding AS DOUBLE[])) > 2.5 THEN 1 ELSE 0 END
             AS has_large
    FROM embeddings
    """,
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions: filter, transform (clip), sequential
    fold, exists — the building blocks of every vector/text kernel here.

    All JVM-side lambda expressions inside codegen: no UDF, no shuffle — a
    pure narrow map whatever the table size.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    e = F.col("embedding").cast("array<double>")
    clip = F.transform(
        e,
        lambda x: F.when(x > 0.5, F.lit(0.5)).when(x < -0.5, F.lit(-0.5)).otherwise(x),
    )
    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.size(e).cast("bigint").alias("dim"),
        F.round(
            F.aggregate(clip, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("clipped_sum"),
        F.when(F.exists(e, lambda x: x > 2.5), 1).otherwise(0).alias("has_large"),
    )


@register(
    "q_map_funcs",
    # The oracle computes the same *results* with plain conditional
    # aggregation — map construction is the Spark-side operator under test,
    # the values are engine-neutral.
    oracle="""
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS type_keys
    FROM events
    GROUP BY user_id
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + lookup: per-user event_type→count map via
    map_from_entries, probed with element_at, keys re-emitted sorted.

    The map is built from a sorted entry array so map_keys order is
    deterministic. At scale this is one shuffle (user_id) and the map stays
    bounded by the event-type cardinality.
    """
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    entries = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "c")))
        ).alias("m")
    )
    return entries.select(
        "user_id",
        F.size(F.map_keys(F.col("m"))).cast("bigint").alias("n_types"),
        F.coalesce(F.element_at("m", "click"), F.lit(0)).cast("bigint").alias("clicks"),
        F.coalesce(F.element_at("m", "purchase"), F.lit(0))
        .cast("bigint")
        .alias("purchases"),
        F.concat_ws(",", F.map_keys(F.col("m"))).alias("type_keys"),
    )


@register(
    "q_date_sequence",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
             date_trunc('month', MAX(o_orderdate)) AS hi
      FROM orders
    ), months AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS TIMESTAMP)
               AS month
      FROM bounds
    ), per_month AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT m.month, COALESCE(p.n_orders, 0) AS n_orders
    FROM months m LEFT JOIN per_month p ON p.month = m.month
    """,
)
def q_date_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: explode a month sequence between min/max and
    left-join actual counts (gap-free time series, the report-table shape).

    Scale: bounds is a 1-row aggregate (broadcast), the sequence explode is
    O(months), and the per-month counts are partial-aggregated before their
    tiny shuffle.
    """
    orders = load(spark, sf_dir, "orders")
    # single scan (r6): the spine bounds derived from a second orders
    # scan; date_trunc is monotone so trunc(min(d)) == min(trunc(d)) —
    # the checkpointed month grid supplies them exactly
    per_month = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(bcount("n_orders")).localCheckpoint(eager=True)
    bounds = per_month.agg(
        F.min("month").alias("lo"), F.max("month").alias("hi")
    )
    months = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 month"))).alias("month")
    )
    return (
        months.join(per_month, "month", "left")
        .select("month", F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"))
    )


@register(
    "q_json_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CAST(json_extract(to_json(struct_pack(p := o_totalprice,
                                                 s := o_orderstatus)),
                             '$.p') AS DOUBLE) AS price_back,
           json_extract_string(to_json(struct_pack(p := o_totalprice,
                                                   s := o_orderstatus)),
                               '$.s') AS status_back
    FROM orders
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json → from_json roundtrip (the CQRS JSON marshaler kernel,
    reference `components/cqrs/marshaler_json.go:15-53`).

    Only values extracted back out are compared — JSON text itself is
    formatting-dependent across engines and never hashable.
    """
    orders = load(spark, sf_dir, "orders")
    js = F.to_json(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderstatus").alias("s")))
    parsed = F.from_json(
        js,
        StructType([StructField("p", DoubleType()), StructField("s", StringType())]),
    )
    return orders.select(
        "o_orderkey",
        parsed["p"].alias("price_back"),
        parsed["s"].alias("status_back"),
    )
