"""Shared relations: each builder returns the DataFrame of one relation that
several queries start from, next to its DuckDB twin (``*_SQL``), which the
oracles bind as a CTE. Builders never materialize; the call site decides
(``.localCheckpoint(eager=True)``) because it knows how often it re-reads
the relation. The oracle side stays an independent DuckDB statement, so
parity still compares two engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import dec
from .registry import load, spread

# Daily lineitem revenue: one row per ship date, y = exact sum of
# l_extendedprice.
DAILY_REVENUE_SQL = """
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1"""


def daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DAILY_REVENUE_SQL``'s twin: (d date, y double)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )


# Daily orders revenue: one row per order date, rev = exact sum of
# o_totalprice.
DAILY_ORDER_REVENUE_SQL = """
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1"""


def daily_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DAILY_ORDER_REVENUE_SQL``'s twin: (d date, rev double)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(dec("o_totalprice")).cast("double").alias("rev")
    )


# Daily event value grid: x = click value, y = purchase value per day,
# over events with a value.
DAILY_CLICK_PURCHASE_SQL = """
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click'
                      THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1"""


def daily_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DAILY_CLICK_PURCHASE_SQL``'s twin: (d date, x double, y double)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    zero = F.lit(0).cast("decimal(18,6)")
    return ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", dec("value")).otherwise(zero))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", dec("value")).otherwise(zero))
        .cast("double")
        .alias("y"),
    )


# Each user's first event type, first by (ts, event_id).
FIRST_EVENT_TYPES_SQL = """
      SELECT user_id, event_type AS first_type
      FROM (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events)
      WHERE rn = 1"""


def first_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FIRST_EVENT_TYPES_SQL``'s twin: (user_id, first_type)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_type"))
    )


# STL-lite on daily revenue: trend = centered 7-day moving average (full
# windows only), detr = y - trend, seasonal = the per-ISO-weekday mean of
# detr. The remainder is detr - seasonal.
STL_SEASONAL_SQL = """
      SELECT d, y, dow, detr,
             CAST(SUM(CAST(detr AS DECIMAL(18,9))) OVER (PARTITION BY dow)
                  AS DOUBLE)
               / CAST(COUNT(*) OVER (PARTITION BY dow) AS DOUBLE) AS seasonal
      FROM (
        SELECT d, y, CAST(isodow(d) AS BIGINT) AS dow, y - trend AS detr
        FROM (
          SELECT d, y,
                 ROW_NUMBER() OVER (ORDER BY d) AS rn,
                 COUNT(*) OVER () AS n,
                 CAST(SUM(CAST(y AS DECIMAL(18,6))) OVER (
                   ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
                 ) AS DOUBLE) / 7.0 AS trend
          FROM (
            SELECT date_trunc('day', l_shipdate) AS d,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                     AS y
            FROM lineitem GROUP BY 1
          )
        )
        WHERE rn >= 4 AND rn <= n - 3
      )"""


def stl_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``STL_SEASONAL_SQL``'s twin: (d timestamp, y, dow, detr, seasonal).
    The ordered windows only ever see the ~2.5k-row daily grid."""
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )
    w_ord = Window.orderBy("d")
    ord_df = daily.select(
        "d",
        "y",
        F.row_number().over(w_ord).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        (
            F.sum(dec("y")).over(w_ord.rowsBetween(-3, 3)).cast("double") / 7.0
        ).alias("trend"),
    )
    det = ord_df.filter(
        (F.col("rn") >= 4) & (F.col("rn") <= F.col("n") - 3)
    ).select(
        "d",
        "y",
        (F.weekday("d") + 1).cast("bigint").alias("dow"),
        (F.col("y") - F.col("trend")).alias("detr"),
    )
    w_dow = Window.partitionBy("dow")
    return det.select(
        "d",
        "y",
        "dow",
        "detr",
        (
            F.sum(F.col("detr").cast("decimal(18,9)")).over(w_dow).cast("double")
            / F.count(F.lit(1)).over(w_dow).cast("double")
        ).alias("seasonal"),
    )


# Prefix-blocked near-duplicate candidates, as two CTEs: ``pre`` holds the
# documents of at least 8 tokens with their tokens ts and the md5 ph of the
# first 8; ``cand`` pairs the documents of one block (da < db) with both
# token arrays.
PREFIX_PAIRS_SQL = """
    pre AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS ts,
             md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS ph
      FROM documents
      WHERE len(string_split(text, ' ')) >= 8
    ),
    cand AS MATERIALIZED (
      SELECT a.doc_id AS da, b.doc_id AS db, a.ts AS ta, b.ts AS tb
      FROM pre a JOIN pre b ON b.ph = a.ph AND a.doc_id < b.doc_id
    )"""


def prefix_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PREFIX_PAIRS_SQL``'s ``pre``: (doc_id, ts, ph)."""
    docs = spread(load(spark, sf_dir, "documents"))
    ts = F.split("text", " ")
    return docs.filter(F.size(ts) >= 8).select(
        "doc_id",
        ts.alias("ts"),
        F.md5(F.array_join(F.slice(ts, 1, 8), " ")).alias("ph"),
    )


def prefix_pairs(pre: DataFrame) -> DataFrame:
    """``PREFIX_PAIRS_SQL``'s ``cand`` over ``prefix_blocks``: (da, db, ta, tb)."""
    a = pre.select(
        F.col("doc_id").alias("da"), F.col("ts").alias("ta"), F.col("ph").alias("pha")
    )
    b = pre.select(
        F.col("doc_id").alias("db"), F.col("ts").alias("tb"), F.col("ph").alias("phb")
    )
    return a.join(
        b, (F.col("phb") == F.col("pha")) & (F.col("da") < F.col("db"))
    ).select("da", "db", "ta", "tb")
