"""Analytics batch 19: time-series smoothing (EWMA), graph triangles,
interval-union coverage, weighted median, autocorrelation, chi-square
independence.

Determinism per :mod:`watermill_spark.analytics.det`. Two batch-specific
tricks worth noting:

- ``q_events_ewma8`` uses halving weights (0.5^k): multiplying a double by a
  power of two is *exact* (no rounding), so the only rounding steps are the
  additions, written in the same left-associative order in both engines —
  the result hash-matches with no rounding fudge.
- Every cumulative window that feeds exact integer comparisons uses an
  explicit ``ROWS BETWEEN`` frame: the SQL default for ``ORDER BY`` windows
  is ``RANGE``, which collapses peer rows and would desync the two engines
  on ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register

# Sum of 0.5^0 .. 0.5^7 == 2 - 2^-7, exactly representable in binary.
_EWMA_DEN = 1.9921875


@register(
    "q_events_ewma8",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, value,
             row_number() OVER w AS rn,
             lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
             lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
             lag(value, 5) OVER w AS l5, lag(value, 6) OVER w AS l6,
             lag(value, 7) OVER w AS l7
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           (value + 0.5 * l1 + 0.25 * l2 + 0.125 * l3 + 0.0625 * l4
            + 0.03125 * l5 + 0.015625 * l6 + 0.0078125 * l7) / 1.9921875
             AS ewma8
    FROM v WHERE rn >= 8
    """,
)
def q_events_ewma8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (alpha=0.5) over the
    trailing 8 events — the classic smoothing pass of a metrics pipeline,
    expressed as a fixed-depth lag stencil instead of a recursive scan.

    Scale: one window shuffle on user_id; the 8 lags share a single sorted
    frame so there is no extra pass per term. Reference analog: watermill has
    no analytics ops — this is §2.B [NS] surface (BASELINE.json north star).
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.col("value")
    for k in range(1, 8):
        num = num + F.lit(0.5**k) * F.lag("value", k).over(w)
    out = ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        (num / F.lit(_EWMA_DEN)).alias("ewma8"),
    )
    return out.filter(F.col("rn") >= 8).drop("rn")


_TRI_EDGE_SQL = f"""
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({NATION_TRADE_EDGES_SQL})
"""


@register(
    "q_trade_triangles",
    oracle=f"""
    WITH und AS ({_TRI_EDGE_SQL}),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    member AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY 1
    """,
)
def q_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation on the undirected nation trade graph
    (same edge base as q_pagerank_nations). Triangles are enumerated once
    each via the canonical a<b<c orientation, then exploded to members.

    Scale: orienting edges low-endpoint-first is the standard trick that
    makes triangle join fan-out tractable (each wedge is generated exactly
    once); on a 100-TB edge list you'd additionally orient by degree
    (low-degree → high-degree) so no single vertex dominates the wedge join —
    same plan shape, skew-proofed. Here the nation graph is tiny, so every
    join after the edge aggregation broadcasts. §2.B [NS] surface.
    """
    und = (
        nation_trade_edges(spark, sf_dir)
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        # checkpointed once (r6): e1/e2/e3 and the member explode each
        # re-derived the 4-table fact join (9 lineitem scans in the plan);
        # the ≤|nations|² edge grid is materialized once instead
        .localCheckpoint(eager=True)
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(F.broadcast(e2), "y").join(F.broadcast(e3), ["x", "z"])
    member = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select("y"))
        .unionAll(tri.select("z"))
    )
    return member.groupBy(F.col("node").cast("bigint").alias("node")).agg(
        bcount("n_triangles")
    )


@register(
    "q_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS start_us,
             epoch_us(ts) + CAST(FLOOR(value * 60000000.0) AS BIGINT) AS end_us
      FROM events WHERE value IS NOT NULL AND value > 0
    ),
    flagged AS (
      SELECT user_id, start_us, end_us,
             CASE WHEN max(end_us) OVER (
               PARTITION BY user_id ORDER BY start_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) >= start_us THEN 0 ELSE 1 END AS is_new
      FROM iv
    ),
    islands AS (
      SELECT user_id, start_us, end_us,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY start_us, end_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island,
             max(end_us) - min(start_us) AS len_us
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(len_us) AS BIGINT) AS covered_us
    FROM merged GROUP BY 1
    """,
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user total *union* length of activity intervals
    [ts, ts + value minutes): overlapping intervals merged via the
    gaps-and-islands cummax pattern, then summed.

    All arithmetic is BIGINT microseconds (exact). The duration double→int
    step uses an explicit FLOOR because DuckDB's CAST rounds while Spark's
    truncates. Scale: two windows over the same (user_id, start) sort — one
    shuffle + one sort total, islands collapse map-side. §2.B [NS] surface.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * F.lit(60000000.0)).cast("bigint")
        ).alias("end_us"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("start_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "start_us",
        "end_us",
        F.when(F.max("end_us").over(w_prev) >= F.col("start_us"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("is_new"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("start_us", "end_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("is_new").over(w_cum))
    merged = islands.groupBy("user_id", "island").agg(
        (F.max("end_us") - F.min("start_us")).alias("len_us")
    )
    return merged.groupBy("user_id").agg(
        bcount("n_islands"),
        F.sum("len_us").cast("bigint").alias("covered_us"),
    )


@register(
    "q_weighted_median",
    oracle="""
    WITH t AS (
      SELECT l_returnflag, l_extendedprice,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
             ) AS tot
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(MAX(tot) AS BIGINT) AS total_weight,
           MIN(CASE WHEN 2 * cum >= tot THEN l_extendedprice END)
             AS wmedian_price
    FROM t GROUP BY 1
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the lowest
    price at which the running quantity mass crosses half the total. Pure
    BIGINT cumulative compare (no interpolation) so the picked value is a
    raw input double — exact across engines by construction.

    Scale: one window sort per flag partition; the per-flag total reuses the
    same shuffle (unbounded frame over the same partition keys). A 100-TB
    variant swaps the full sort for approx_percentile pre-bracketing, then
    sorts only the bracket — same final compare. §2.B [NS] surface.
    """
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag")
    t = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(q).over(w_cum).alias("cum"),
        F.sum(q).over(w_all).alias("tot"),
    )
    return t.groupBy("l_returnflag").agg(
        F.max("tot").cast("bigint").alias("total_weight"),
        F.min(
            F.when(F.lit(2) * F.col("cum") >= F.col("tot"), F.col("l_extendedprice"))
        ).alias("wmedian_price"),
    )


@register(
    "q_hourly_autocorr",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT n AS y, lag(n) OVER (ORDER BY hr) AS x FROM hourly
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs WHERE x IS NOT NULL
    )
    SELECT np AS n_pairs,
           round(
             (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6
           ) AS autocorr_lag1
    FROM m
    """,
)
def q_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-count series (is this hour's
    traffic predicted by the previous hour's?) — Pearson corr over (n_t,
    n_{t-1}) pairs rebuilt from exact integer moments, rounded to 6dp only
    because sqrt's argument can differ by 1 ulp across engines.

    Scale: the hourly rollup collapses everything map-side to one row per
    hour; the lag + moments run on that tiny series (single partition is
    fine — it IS small after aggregation, at any input scale). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(bcount("n"))
    w = Window.orderBy("hr")
    pairs = hourly.select(
        F.col("n").alias("y"), F.lag("n").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    m = pairs.agg(
        bcount("np"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    npd = F.col("np").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        F.col("np").alias("n_pairs"),
        F.round(
            (npd * sxy - sx * sy)
            / (F.sqrt(npd * sxx - sx * sx) * F.sqrt(npd * syy - sy * sy)),
            6,
        ).alias("autocorr_lag1"),
    )


@register(
    "q_chi2_type_dow",
    oracle="""
    WITH cell AS (
      SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2
    ),
    aug AS (
      SELECT obs,
             SUM(obs) OVER (PARTITION BY event_type) AS row_tot,
             SUM(obs) OVER (PARTITION BY dow) AS col_tot,
             SUM(obs) OVER () AS n
      FROM cell
    ),
    per AS (
      SELECT n,
             (CAST(obs AS DOUBLE)
              - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(obs AS DOUBLE)
                - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
               AS cell_chi2
      FROM aug
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           (SELECT CAST((COUNT(DISTINCT event_type) - 1)
                        * (COUNT(DISTINCT dow) - 1) AS BIGINT) FROM cell)
             AS dof,
           CAST(SUM(CAST(cell_chi2 AS DECIMAL(28,12))) AS DOUBLE) AS chi2
    FROM per
    """,
)
def q_chi2_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event_type × ISO day-of-week: is the
    type mix stable across weekdays? Expected counts come from exact BIGINT
    marginals; per-cell terms are a fixed double expression; the cell sum
    goes through DECIMAL so partial-agg order can't change the statistic.

    Scale: the contingency table is |types|×7 cells regardless of input
    size — everything after the first map-side-combined groupBy is
    effectively free. §2.B [NS] surface.
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the chi2 pass and the dof aggregate both
    # re-derived the counts (2 events scans in the plan); the
    # ≤|types|×7 grid materializes once
    cell = ev.groupBy(
        "event_type", (F.weekday("ts") + 1).cast("bigint").alias("dow")
    ).agg(bcount("obs")).localCheckpoint(eager=True)
    aug = cell.select(
        "event_type",
        "dow",
        "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("dow")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    exp = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n").cast(
        "double"
    )
    dev = F.col("obs").cast("double") - exp
    per = aug.select("n", (dev * dev / exp).alias("cell_chi2"))
    dof = cell.agg(
        (
            (F.countDistinct("event_type") - F.lit(1))
            * (F.countDistinct("dow") - F.lit(1))
        )
        .cast("bigint")
        .alias("dof")
    )
    return per.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.col("cell_chi2").cast("decimal(28,12)")).cast("double").alias("chi2"),
    ).crossJoin(F.broadcast(dof)).select("n", "dof", "chi2")
