"""Analytics batch 66: structural operators — interval-to-calendar
proration (splitting user activity spans across ISO weeks), Tukey median
polish of the priority × year value grid, and iterative proportional
fitting (IPF/RAS) of the nation trade matrix to uniform margins.

Interval splitting is the canonical time-allocation operator (billing,
capacity, SLA attribution); median polish is the robust alternative to
q_two_way_anova's mean decomposition; IPF is the matrix-balancing
workhorse of survey raking and OD-matrix calibration — all three are
fixed-iteration / exact-arithmetic and hash-match a chained-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges


@register(
    "q_interval_week_proration",
    oracle="""
    WITH spans AS (
      SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t1
      FROM events GROUP BY 1
      HAVING epoch_us(MAX(ts)) > epoch_us(MIN(ts))
    ),
    weeks AS (
      SELECT s.user_id,
             epoch_us(s.t0) AS a,
             epoch_us(s.t1) AS b,
             epoch_us(CAST(w.w AS TIMESTAMP)) AS wk_start,
             epoch_us(CAST(w.w AS TIMESTAMP) + INTERVAL 7 DAY) AS wk_end,
             CAST(w.w AS TIMESTAMP) AS week
      FROM spans s,
           LATERAL (SELECT UNNEST(generate_series(
                      date_trunc('week', s.t0),
                      date_trunc('week', s.t1),
                      INTERVAL 7 DAY)) AS w) w
    ),
    clipped AS (
      SELECT week,
             GREATEST(a, wk_start) AS lo,
             LEAST(b, wk_end) AS hi,
             user_id
      FROM weeks
    ),
    alloc AS (
      SELECT week,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users,
             CAST(SUM(hi - lo) AS BIGINT) AS allocated_us
      FROM clipped WHERE hi > lo GROUP BY week
    )
    SELECT week, active_users,
           round(CAST(allocated_us AS DOUBLE) / 3600e6, 4)
             AS allocated_hours
    FROM alloc
    """,
)
def q_interval_week_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-to-calendar proration: each user's [first event, last
    event] activity span is split at ISO-week boundaries and the overlap
    allocated to each week — the time-allocation operator behind billing,
    capacity attribution, and SLA accounting (an interval can't be
    assigned to "its" week when it crosses several; it must be clipped
    and prorated). Reports per-week active users and allocated hours.

    Determinism: all clipping happens in integer epoch-microseconds;
    the week spine comes from sequence()/generate_series on week-truncated
    timestamps — identical grids on both engines (UTC session).

    Scale: the explode multiplies each user by their span's week count
    (bounded by the calendar, not the corpus); clipping is a narrow map
    and the rollup shuffles once on week. §2.B interval surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    spans = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .filter(F.unix_micros("t1") > F.unix_micros("t0"))
    )
    weeks = spans.select(
        "user_id",
        F.unix_micros("t0").alias("a"),
        F.unix_micros("t1").alias("b"),
        F.explode(
            F.sequence(
                F.date_trunc("week", F.col("t0")),
                F.date_trunc("week", F.col("t1")),
                F.expr("INTERVAL 7 DAY"),
            )
        ).alias("week"),
    ).select(
        "user_id",
        "a",
        "b",
        "week",
        F.unix_micros("week").alias("wk_start"),
        F.unix_micros(F.col("week") + F.expr("INTERVAL 7 DAY")).alias("wk_end"),
    )
    clipped = weeks.select(
        "week",
        "user_id",
        F.greatest("a", "wk_start").alias("lo"),
        F.least("b", "wk_end").alias("hi"),
    ).filter(F.col("hi") > F.col("lo"))
    return clipped.groupBy("week").agg(
        F.count_distinct("user_id").cast("bigint").alias("active_users"),
        F.round(
            F.sum(F.col("hi") - F.col("lo")).cast("double") / F.lit(3600e6), 4
        ).alias("allocated_hours"),
    )


@register(
    "q_median_polish",
    oracle="""
    WITH grid AS (
      SELECT o_orderpriority AS a,
             CAST(year(o_orderdate) AS BIGINT) AS b,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997
      GROUP BY 1, 2
    ),
    rmed1 AS (
      SELECT a, v AS med FROM (
        SELECT a, v, ROW_NUMBER() OVER (PARTITION BY a ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY a) AS n
        FROM grid) x
      WHERE rn = (n + 1) // 2
    ),
    r1 AS (
      SELECT g.a, g.b, g.v - m.med AS v
      FROM grid g JOIN rmed1 m USING (a)
    ),
    cmed1 AS (
      SELECT b, v AS med FROM (
        SELECT b, v, ROW_NUMBER() OVER (PARTITION BY b ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY b) AS n
        FROM r1) x
      WHERE rn = (n + 1) // 2
    ),
    r2 AS (
      SELECT r.a, r.b, r.v - m.med AS v
      FROM r1 r JOIN cmed1 m USING (b)
    )
    SELECT a AS priority, b AS yr,
           round(CAST(v AS DOUBLE) / 100, 2) AS residual_dollars,
           CASE WHEN abs(v) > 0 THEN 1 ELSE 0 END AS nonzero
    FROM r2
    """,
)
def q_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey median polish (one row sweep + one column sweep) of the
    priority × year revenue grid: subtract lower-median row effects, then
    lower-median column effects, leaving robust interaction residuals —
    the outlier-resistant counterpart to q_two_way_anova's mean
    decomposition (a single freak year distorts means but not medians).

    Determinism: the grid is exact integer cents; the lower median
    (rank ⌈n/2⌉ element) is an actual data value picked by row_number, so
    every subtraction stays integer.

    Scale: the polish runs on the ≤|priorities|×|years| aggregate grid;
    only the initial rollup touches the fact table (map-side combined).
    §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    grid = (
        o.filter(F.year("o_orderdate").between(1995, 1997))
        .groupBy(
            F.col("o_orderpriority").alias("a"),
            F.year("o_orderdate").cast("bigint").alias("b"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
        # checkpointed once (r6): each sweep references its input twice
        # (median probe + subtraction join), nested twice — 4 orders
        # scans in the plan; the ≤5×3 grid materializes once and the
        # 15-row sweeps run on it
        .localCheckpoint(eager=True)
    )

    def sweep(df: DataFrame, key: str) -> DataFrame:
        wk = Window.partitionBy(key)
        med = (
            df.select(
                key,
                "v",
                F.row_number().over(wk.orderBy("v")).alias("rn"),
                F.count(F.lit(1)).over(wk).alias("n"),
            )
            .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("int"))
            .select(key, F.col("v").alias("med"))
        )
        return df.join(F.broadcast(med), key).select(
            "a", "b", (F.col("v") - F.col("med")).alias("v")
        )

    r2 = sweep(sweep(grid, "a"), "b")
    return r2.select(
        F.col("a").alias("priority"),
        F.col("b").alias("yr"),
        F.round(F.col("v").cast("double") / 100, 2).alias("residual_dollars"),
        F.when(F.abs(F.col("v")) > 0, 1).otherwise(0).alias("nonzero"),
    )


_IPF_ROUNDS = 4

_IPF_ROW_SQL = """
      SELECT m.src, m.dst,
             m.w * (1.0 / rs.s) AS w
      FROM {m} m JOIN (
        SELECT src, CAST(SUM(CAST(w AS DECIMAL(28,18))) AS DOUBLE) AS s
        FROM {m} GROUP BY src) rs USING (src)
"""

_IPF_COL_SQL = """
      SELECT m.src, m.dst,
             m.w * (1.0 / cs.s) AS w
      FROM {m} m JOIN (
        SELECT dst, CAST(SUM(CAST(w AS DECIMAL(28,18))) AS DOUBLE) AS s
        FROM {m} GROUP BY dst) cs USING (dst)
"""


@register(
    "q_ipf_matrix_balancing",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    tot AS (SELECT CAST(SUM(w) AS DOUBLE) AS tw FROM edges),
    m0 AS MATERIALIZED (
      SELECT src, dst, CAST(w AS DOUBLE) / tot.tw AS w FROM edges, tot
    ),
    {",".join(
        f"m{2 * k + 1} AS MATERIALIZED ({_IPF_ROW_SQL.format(m=f'm{2 * k}')}), "
        f"m{2 * k + 2} AS MATERIALIZED ({_IPF_COL_SQL.format(m=f'm{2 * k + 1}')})"
        for k in range(_IPF_ROUNDS)
    )},
    final_m AS (SELECT * FROM m{2 * _IPF_ROUNDS}),
    margins AS (
      SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_rows_m,
             CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_cols_m,
             CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM final_m
    ),
    rowdev AS (
      SELECT MAX(abs(s - 1.0)) AS max_row_dev FROM (
        SELECT CAST(SUM(CAST(w AS DECIMAL(28,18))) AS DOUBLE) AS s
        FROM final_m GROUP BY src)
    ),
    coldev AS (
      SELECT MAX(abs(s - 1.0)) AS max_col_dev FROM (
        SELECT CAST(SUM(CAST(w AS DECIMAL(28,18))) AS DOUBLE) AS s
        FROM final_m GROUP BY dst)
    )
    SELECT n_rows_m, n_cols_m, n_cells,
           round(CAST((SELECT max_row_dev FROM rowdev) AS DOUBLE), 9)
             AS max_row_dev,
           round(CAST((SELECT max_col_dev FROM coldev) AS DOUBLE), 9)
             AS max_col_dev
    FROM margins
    """,
)
def q_ipf_matrix_balancing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (IPF/RAS) of the nation→nation trade
    matrix to uniform unit margins: 4 rounds of alternate row- and
    column-scaling — the survey-raking / OD-matrix-calibration operator —
    reporting matrix shape and the max row/column margin deviation after
    the final round (column margins end exact at 1, rows carry the
    residual; deviation shrinking toward 0 is the convergence evidence).

    Determinism: each scaling divides by a margin sum computed through
    per-term DECIMAL(28,18) (the pagerank discipline), written as
    multiplication by (1/s) so both engines evaluate the identical
    expression tree; deviations round at 1e-9, far above ulp noise.

    Scale: the matrix is ≤|nations|² and every round is two broadcast-
    joined scalings + margin aggregations; for county-level OD matrices
    the same rounds run as shuffle joins on the margin keys. §2.B [NS].
    """
    edges = nation_trade_edges(spark, sf_dir)
    tot = edges.agg(F.sum("w").cast("double").alias("tw"))
    m = edges.crossJoin(F.broadcast(tot)).select(
        "src", "dst", (F.col("w").cast("double") / F.col("tw")).alias("w")
    )

    def scale(df: DataFrame, key: str) -> DataFrame:
        s = df.groupBy(key).agg(
            F.sum(F.col("w").cast("decimal(28,18)")).cast("double").alias("s")
        )
        return df.join(F.broadcast(s), key).select(
            "src", "dst", (F.col("w") * (F.lit(1.0) / F.col("s"))).alias("w")
        )

    # each round reads the previous matrix twice (margin agg + join), so
    # without a per-round cut the *plan* fans out 2^rounds (OOMs the
    # planner long before execution) — localCheckpoint materializes the
    # tiny <=|nations|^2 matrix and truncates lineage each round (the
    # checkpoint-every-round discipline any iterative Spark algorithm
    # needs; at cluster scale a reliable checkpoint dir plays this part)
    m = m.localCheckpoint(eager=True)
    for _ in range(_IPF_ROUNDS):
        m = scale(m, "src").localCheckpoint(eager=True)
        m = scale(m, "dst").localCheckpoint(eager=True)
    margins = m.agg(
        F.count_distinct("src").cast("bigint").alias("n_rows_m"),
        F.count_distinct("dst").cast("bigint").alias("n_cols_m"),
        bcount("n_cells"),
    )
    rowdev = (
        m.groupBy("src")
        .agg(F.sum(F.col("w").cast("decimal(28,18)")).cast("double").alias("s"))
        .agg(F.max(F.abs(F.col("s") - 1.0)).alias("max_row_dev"))
    )
    coldev = (
        m.groupBy("dst")
        .agg(F.sum(F.col("w").cast("decimal(28,18)")).cast("double").alias("s"))
        .agg(F.max(F.abs(F.col("s") - 1.0)).alias("max_col_dev"))
    )
    return (
        margins.crossJoin(F.broadcast(rowdev))
        .crossJoin(F.broadcast(coldev))
        .select(
            "n_rows_m",
            "n_cols_m",
            "n_cells",
            F.round("max_row_dev", 9).alias("max_row_dev"),
            F.round("max_col_dev", 9).alias("max_col_dev"),
        )
    )
