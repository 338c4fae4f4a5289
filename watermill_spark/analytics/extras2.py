"""Analytics batch 5: conditional aggregation, exact-sum statistics,
ignore-nulls windows, regex extraction, gaps-and-islands, deterministic mode.

Cross-engine rules as in :mod:`watermill_spark.analytics.det`; statistical
aggregates are rebuilt from exact decimal sums so results are
aggregation-order independent (Spark's builtin corr/covar over doubles is
not, which is why it cannot be oracle-checked directly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import DEC, bcount, dec
from .registry import load, register, spread


@register(
    "q_conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big,
           CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_finished_custs,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                  FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_value,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation (SQL FILTER clause / count_if family).

    Scale: all four aggregates run in the same partial-agg pass — predicates
    inside the aggregate never force extra scans or shuffles.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).cast("bigint").alias("n_big"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        )
        .cast("bigint")
        .alias("n_finished_custs"),
        F.sum(F.when(F.col("o_orderstatus") == "O", dec("o_totalprice")))
        .cast("double")
        .alias("open_value"),
        bcount("n"),
    )


_SQL_CORR = """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           (n * sxy - sx * sy) / (n * (n - 1.0)) AS covar_qty_price,
           round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
    FROM s
"""


@register("q_stat_corr", oracle=_SQL_CORR)
def q_stat_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance + Pearson correlation from exact sums.

    Built-in corr()/covar_samp() accumulate doubles in partition order and so
    cannot hash-match across engines; rebuilding from exact decimal moments
    (then one fixed-order double expression) is both deterministic and
    cheaper at scale — six sums in one partial-agg pass, no second pass over
    the data (the textbook one-pass moments formulation). The correlation is
    rounded to 6dp: the sqrt-of-difference denominator can differ by 1 ulp
    across engines even with identical inputs.
    """
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(x)).cast("double").alias("sx"),
        F.sum(dec(y)).cast("double").alias("sy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("sxx"),
        F.sum((y * y).cast(DEC)).cast("double").alias("syy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        ((n * sxy - sx * sy) / (n * (n - F.lit(1.0)))).alias("covar_qty_price"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@register(
    "q_window_ignore_nulls",
    oracle="""
    SELECT event_id, user_id, ts,
           LAST_VALUE(purchase_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value,
           CAST(COUNT(purchase_value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS purchases_so_far
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events)
    """,
)
def q_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS carry-forward: each event sees the user's most recent
    purchase value (classic last-observation-carried-forward enrichment).

    Scale: one shuffle on user_id, one sort; running frames are streaming-
    friendly (bounded state per partition).
    """
    ev = load(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        pv.alias("purchase_value"),
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.last("purchase_value", ignorenulls=True).over(w).alias("last_purchase_value"),
        F.count("purchase_value").over(w).cast("bigint").alias("purchases_so_far"),
    )


@register(
    "q_part_regex",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           CAST(CAST(regexp_extract(p_brand, '(\\d+)', 1) AS INTEGER) AS BIGINT)
             AS brand_num,
           CASE WHEN p_name LIKE '%bolt%' THEN 1 ELSE 0 END AS is_bolt,
           regexp_replace(p_name, '\\s+', '_', 'g') AS slug
    FROM part
    """,
)
def q_part_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: extract, replace, LIKE — all inside codegen.

    Spark uses Java regex and DuckDB RE2; the patterns here (\\w, \\d, \\s)
    behave identically in both dialects, which is the constraint any shared
    regex surface must respect.
    """
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_extract("p_brand", r"(\d+)", 1).cast("int").cast("bigint").alias("brand_num"),
        F.when(F.col("p_name").like("%bolt%"), 1).otherwise(0).alias("is_bolt"),
        F.regexp_replace("p_name", r"\s+", "_").alias("slug"),
    )


@register(
    "q_events_streaks",
    oracle="""
    WITH numbered AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_t
      FROM events
    ), runs AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS streak_len,
             MIN(ts) AS streak_start
      FROM numbered GROUP BY user_id, event_type, rn - rn_t
    )
    SELECT user_id, event_type, streak_len, streak_start FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id
        ORDER BY streak_len DESC, streak_start, event_type) AS pick
      FROM runs)
    WHERE pick = 1
    """,
)
def q_events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of consecutive same-type
    events (row_number-difference island id — no iterative logic).

    Scale: both row_numbers share the user_id shuffle; islands group-by is
    map-side-combinable; final per-user pick is a k=1 window (WindowGroupLimit
    keeps one row per partition).
    """
    ev = load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    numbered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("island"),
    )
    runs = numbered.groupBy("user_id", "event_type", "island").agg(
        bcount("streak_len"), F.min("ts").alias("streak_start")
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), F.asc("streak_start"), F.asc("event_type")
    )
    return (
        runs.withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select("user_id", "event_type", "streak_len", "streak_start")
    )


@register(
    "q_mode_argmax",
    oracle="""
    SELECT lang, source AS mode_source, cnt FROM (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, source)
               AS rn
      FROM documents GROUP BY lang, source)
    WHERE rn = 1
    """,
)
def q_mode_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent source per language, ties to the
    lexicographically-smallest value (builtin mode() leaves ties undefined —
    unusable under cross-engine hashing).

    Scale: count group-by then a k=1 window on the (small) group table.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    counts = docs.groupBy("lang", "source").agg(bcount("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("source").alias("mode_source"), "cnt")
    )
