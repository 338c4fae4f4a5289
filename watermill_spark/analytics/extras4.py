"""Analytics batch 7: unpivot, corpus token frequencies, salted skew join.

Determinism per :mod:`watermill_spark.analytics.det`; the salted join's
oracle is the equivalent *unsalted* join — salting is a physical rewrite
that must not change results, which is exactly what the hash check proves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dsum, sql_dsum
from .registry import load, register, spread

_SALT = 8


@register(
    "q_unpivot",
    oracle=f"""
    WITH agg AS (
      SELECT l_returnflag,
             {sql_dsum('l_quantity', 'qty')},
             {sql_dsum('l_extendedprice', 'price')},
             {sql_dsum('l_discount', 'discount')}
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty' AS measure, qty AS val FROM agg
    UNION ALL
    SELECT l_returnflag, 'price', price FROM agg
    UNION ALL
    SELECT l_returnflag, 'discount', discount FROM agg
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of per-flag measures.

    Scale: unpivot is a narrow 1→k row expansion after the aggregation —
    the shuffle happens once on the group-by, never on the melted rows.
    """
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity", "qty"),
        dsum("l_extendedprice", "price"),
        dsum("l_discount", "discount"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "q_token_freq",
    oracle="""
    SELECT lang, tok, cnt FROM (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tok)
               AS rn
      FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY lang, tok)
    WHERE rn <= 10
    """,
)
def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies: top-10 tokens per language.

    The vocabulary-building kernel of a text pipeline. Scale: explode is
    narrow; the (lang, tok) count partial-aggregates map-side (Zipf skew on
    hot tokens is absorbed by the partial agg); top-k per lang is a k=10
    window on the already-tiny count table.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(bcount("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tok"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "tok", "cnt")
    )


@register(
    "q_skew_salted_join",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT event_type, substr(event_type, 1, 1) AS category
      FROM events
    )
    SELECT d.category,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('e.value', 'total_value')}
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY d.category
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: the skewed-key mitigation pattern, result-identical to
    the plain join (the oracle runs the unsalted equivalent).

    Fact side: salt = pmod(event_id, {_SALT}); dim side: replicated
    {_SALT}x with posexplode. The join key becomes (event_type, salt), so a
    hot key's rows spread over {_SALT} reducers instead of one. At local
    scale Spark would broadcast this dim anyway — the broadcast hint is
    deliberately *omitted* so the sort-merge/shuffle path (where salting
    matters at 100 TB when the dim outgrows broadcast) is the one exercised;
    AQE's skew-join split is the automatic alternative when it can see the
    skew.
    """
    ev = load(spark, sf_dir, "events")
    dim = (
        ev.select("event_type").distinct()
        .select("event_type", F.substring("event_type", 1, 1).alias("category"))
    )
    dim_salted = dim.select(
        "event_type",
        "category",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))).alias("salt"),
    )
    fact = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(_SALT)))
    joined = fact.join(dim_salted, ["event_type", "salt"])
    return joined.groupBy("category").agg(
        bcount("n"),
        dsum("value", "total_value"),
    )
