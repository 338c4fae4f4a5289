"""Analytics batch 25: skyline / survival / sampling surface — Pareto
frontier, time-weighted averages, Kaplan-Meier retention, one-pass table
profiling, deterministic hash-priority sampling, iterative BFS hops.

Two new cross-engine primitives proven here: ``md5(text)`` renders the same
lowercase hex in Spark and DuckDB (so a hash ORDER BY is a deterministic
pseudo-uniform sample), and windowed ``product()`` accumulates factors in
frame order in both engines (so Kaplan-Meier's cumulative survival product
hash-matches after a 6dp round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register


@register(
    "q_skyline_customers",
    oracle="""
    WITH pc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    cb AS (
      SELECT CAST(c.c_acctbal AS DECIMAL(12,2)) AS bal, MAX(pc.n_orders) AS best
      FROM customer c JOIN pc ON c.c_custkey = pc.o_custkey
      GROUP BY 1
    ),
    st AS (
      SELECT bal, best,
             MAX(best) OVER (
               ORDER BY bal DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior
      FROM cb
    )
    SELECT CAST(bal AS DOUBLE) AS acctbal, best AS n_orders
    FROM st WHERE prior IS NULL OR best > prior
    """,
)
def q_skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of customers jointly maximizing account
    balance and order count: a customer point survives iff no other
    customer strictly dominates it on both axes. Classic multi-criteria
    shortlist query (cf. Börzsönyi et al., "The Skyline Operator", ICDE'01).

    Computed as the staircase: collapse to one row per distinct balance
    (max order count at that balance), then a descending-balance running
    max — a point is on the frontier iff its count beats every
    higher-balance count. All comparisons are BIGINT/DECIMAL-exact.

    Scale: the per-customer and per-balance rollups are ordinary shuffled
    aggregations; only the staircase scan is a single-partition window,
    and it runs on the collapsed per-balance table. At 100 TB, skyline is
    distributive (the global frontier is a subset of the union of
    per-partition frontiers), so a local-skyline mapPartitions pre-filter
    shrinks the sort input to ~|frontier|·n_partitions first. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    pc = orders.groupBy("o_custkey").agg(bcount("n_orders"))
    cb = (
        cust.join(pc, cust.c_custkey == pc.o_custkey)
        .groupBy(F.col("c_acctbal").cast("decimal(12,2)").alias("bal"))
        .agg(F.max("n_orders").alias("best"))
    )
    w = Window.orderBy(F.col("bal").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    st = cb.withColumn("prior", F.max("best").over(w))
    return st.filter(
        F.col("prior").isNull() | (F.col("best") > F.col("prior"))
    ).select(F.col("bal").cast("double").alias("acctbal"), F.col("best").alias("n_orders"))


@register(
    "q_twap_user_value",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             epoch_us(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             )) - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS total_us,
           round(CAST(SUM(CAST(value AS DECIMAL(12,6)) * dur_us) AS DOUBLE)
                 / CAST(SUM(dur_us) AS DOUBLE), 6) AS twap
    FROM seq
    WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY 1
    """,
)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each event's value is held
    until the user's next event and weighted by that holding duration —
    the TWAP estimator that de-biases bursty telemetry, where a plain AVG
    over-weights rapid-fire readings.

    Each product value·duration_us is DECIMAL(12,6)·BIGINT — exact (12+20+1
    digits stays under Spark's 38-digit cap, so no silent scale loss) — so
    the weighted sum is partial-aggregation-safe; only the final ratio is
    a double division, rounded 6dp (the ~20-digit numerator is past
    double's 17, where DuckDB's two-step decimal→double conversion can
    differ from the JVM's correctly-rounded cast by one ulp). The lead()
    order has a total-order tiebreak
    (ts, event_id), so zero-duration ties pair identically across engines
    and are then excluded on both.

    Scale: the lead() window and the groupBy share the user_id hash
    partitioning — the whole query is ONE shuffle (pinned:
    test_twap_single_exchange). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    )
    return (
        seq.filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
        .groupBy("user_id")
        .agg(
            bcount("n_intervals"),
            F.sum("dur_us").cast("bigint").alias("total_us"),
            F.round(
                F.sum(dec("value", "decimal(12,6)") * F.col("dur_us")).cast("double")
                / F.sum("dur_us").cast("double"),
                6,
            ).alias("twap"),
        )
    )


@register(
    "q_kaplan_meier_retention",
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
             CAST(SUM(censored) AS BIGINT) AS c_censored,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM lab GROUP BY 1
    ),
    risk AS (
      SELECT t, d_events, c_censored,
             CAST(SUM(leaving) OVER (
               ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT t AS lifetime_days, n_risk, d_events, c_censored,
           round(product(
             1.0 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
           ) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           6) AS survival
    FROM risk
    """,
)
def q_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer lifetime (days between first
    and last order), right-censoring customers still active in the final 90
    days of the dataset: S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) with dᵢ = churn events
    at lifetime tᵢ and nᵢ = customers still at risk — the retention curve
    that naive "avg lifetime" misreports under censoring.

    The risk set is a reverse cumulative sum (exact BIGINT); each hazard
    factor is one double division, and the cumulative product runs as a
    windowed product() accumulating in ascending-t frame order in both
    engines, rounded 6dp.

    Scale: lifetimes reduce per customer (one shuffle), then everything
    runs on the ≤|distinct lifetime| grid (~2.4k rows, date-range bound,
    SF-invariant) — the single-partition windows never see the fact table.
    At 100 TB the global max date comes from the same grid, not a fact
    rescan. §2.B [NS].
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
        F.sum("censored").cast("bigint").alias("c_censored"),
        bcount("leaving"),
    )
    wrev = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = grid.select(
        "t",
        "d_events",
        "c_censored",
        F.sum("leaving").over(wrev).cast("bigint").alias("n_risk"),
    )
    return risk.select(
        F.col("t").alias("lifetime_days"),
        "n_risk",
        "d_events",
        "c_censored",
        F.round(
            F.product(
                F.lit(1.0)
                - F.col("d_events").cast("double") / F.col("n_risk").cast("double")
            ).over(wcum),
            6,
        ).alias("survival"),
    )


_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_orderkey", "o_custkey"]


@register(
    "q_table_profile",
    oracle="""
    WITH a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
    """
    + ",\n".join(
        f"""         CAST(COUNT({c}) AS BIGINT) AS nn{i},
         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd{i},
         CAST(MIN({c}) AS VARCHAR) AS mn{i},
         CAST(MAX({c}) AS VARCHAR) AS mx{i}"""
        for i, c in enumerate(_PROFILE_COLS)
    )
    + """
      FROM orders
    )
    """
    + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name, n AS n_rows,
           n - nn{i} AS null_count, nd{i} AS n_distinct,
           mn{i} AS min_val, mx{i} AS max_val FROM a"""
        for i, c in enumerate(_PROFILE_COLS)
    ),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling of the orders table's string columns: row
    count, null count, exact distinct count, lexicographic min/max per
    column (numeric keys rendered as strings for the uniform long format) —
    the schema-drift / data-quality summary every ingest pipeline runs
    before accepting a new partition.

    All statistics for all columns compute in a SINGLE aggregate over one
    scan; the per-column long format then unpivots the 1-row result with
    ``stack``, so adding a column adds zero passes. Min/max on ASCII
    strings are byte-order identical across engines.

    Scale: multiple exact COUNT(DISTINCT) in one aggregate expand the scan
    k-fold (Spark's Expand operator) — at 100 TB switch the distinct
    counts to approx_count_distinct (HLL) and the expansion disappears;
    the interface stays fixed. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    aggs = [bcount("n")]
    for i, c in enumerate(_PROFILE_COLS):
        aggs += [
            bcount(f"nn{i}", c),
            F.countDistinct(c).cast("bigint").alias(f"nd{i}"),
            F.min(c).cast("string").alias(f"mn{i}"),
            F.max(c).cast("string").alias(f"mx{i}"),
        ]
    a = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n - nn{i}, nd{i}, mn{i}, mx{i}"
        for i, c in enumerate(_PROFILE_COLS)
    )
    return a.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, null_count, n_distinct, min_val, max_val)"
        ),
        F.col("n").alias("n_rows"),
    ).select(
        "column_name", "n_rows", "null_count", "n_distinct", "min_val", "max_val"
    )


@register(
    "q_sample_md5_topk",
    oracle="""
    WITH s AS (
      SELECT l_quantity, l_extendedprice,
             md5(CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)) AS h,
             l_orderkey, l_linenumber
      FROM lineitem
      ORDER BY h, l_orderkey, l_linenumber
      LIMIT 1000
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_price,
           MIN(h) AS min_hash, MAX(h) AS max_hash
    FROM s
    """,
)
def q_sample_md5_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-uniform sample: the 1000 lineitems with the
    smallest md5(orderkey-linenumber) priority — the content-addressed
    reservoir that replays identically on any engine, any partitioning,
    any run (unlike rand()-based sampling, which can never hash-match).
    Returns the sample's aggregate profile plus the hash range actually
    taken.

    Scale: ORDER BY hash LIMIT k compiles to TakeOrderedAndProject —
    each partition keeps its local top-1000 and only k·n_partitions rows
    reach the driver-side merge; no global sort, no full shuffle (pinned:
    test_md5_sample_take_ordered). Growing the corpus only tightens the
    accepted hash range; the work per partition stays O(rows + k log k).
    §2.B [NS] training-pipeline surface.
    """
    li = load(spark, sf_dir, "lineitem")
    h = F.md5(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    ).alias("h")
    s = (
        li.select("l_quantity", "l_extendedprice", h, "l_orderkey", "l_linenumber")
        .orderBy("h", "l_orderkey", "l_linenumber")
        .limit(1000)
    )
    return s.agg(
        bcount("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        (
            F.sum(dec("l_extendedprice")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_price"),
        F.min("h").alias("min_hash"),
        F.max("h").alias("max_hash"),
    )


_BFS_STEP_SQL = """
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT e.dst AS node, p.dist + 1 AS dist
        FROM edges e JOIN {prev} p ON p.node = e.src
        UNION ALL
        SELECT node, dist FROM {prev}
      ) u GROUP BY 1
"""


@register(
    "q_bfs_nation_hops",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
    d1 AS ({_BFS_STEP_SQL.format(prev="d0")}),
    d2 AS ({_BFS_STEP_SQL.format(prev="d1")}),
    d3 AS ({_BFS_STEP_SQL.format(prev="d2")})
    SELECT CAST(node AS BIGINT) AS node, dist AS hops FROM d3
    """,
)
def q_bfs_nation_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest hop count from nation 0 over the directed
    nation→nation trade graph (3 fixed relaxation rounds — enough to
    saturate the 25-node graph): each round extends the reached set by one
    edge hop and keeps the per-node MIN distance. All-BIGINT, so the
    iterative result hash-matches a chained-CTE oracle exactly.

    Uses the same trade edge list as q_pagerank_nations
    (`NATION_TRADE_EDGES_SQL`); the reached-set table stays ≤|nodes| rows, so every
    relaxation joins edges to a BROADCAST frontier — one shuffle per round
    for the min-agg, none for the join. At 100 TB (billion-node graphs)
    the same loop holds with the frontier kept hash-partitioned instead of
    broadcast, plus lineage checkpoints every ~5 rounds. §2.B [NS].
    """
    edges = nation_trade_edges(spark, sf_dir).select("src", "dst").localCheckpoint(eager=True)
    dist = spark.range(1).select(
        F.lit(0).cast("bigint").alias("node"), F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(3):
        ext = edges.join(
            F.broadcast(dist.withColumnRenamed("node", "src")), "src"
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            ext.unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
    return dist.select("node", F.col("dist").alias("hops"))
