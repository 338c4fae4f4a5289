"""Analytics batch 148: Erlang-C staffing curve, price-elasticity OLS,
and EOQ order-quantity policy.

Erlang C is the contact-center/ops staffing workhorse: given the peak
arrival rate observed in the event stream, the probability-of-wait and
average-speed-of-answer curve over the number of servers c — the
queueing family's sizing complement to q_littles_law / q_mg1_queue_wait.
Price elasticity is the canonical log-log demand regression; EOQ is the
square-root-law inventory policy that turns demand and holding cost
into an order size.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation families.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import (
    D15,
    OLS_SLOPE_SQL,
    bcount,
    dec,
    ols_moments,
    ols_slope,
    sql_ols_moments,
)
from .registry import load, register


@register(
    "q_erlang_c_staffing",
    oracle="""
    WITH RECURSIVE hod AS (
      SELECT CAST(hour(ts) AS BIGINT) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    days AS (
      SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS nd
      FROM events
    ),
    peak AS (
      SELECT CAST(MAX(cnt) AS DOUBLE) / (SELECT nd FROM days) AS lam,
             CAST(20.0 AS DOUBLE) AS mu
      FROM hod
    ),
    erl AS (
      SELECT CAST(0 AS BIGINT) AS c, CAST(1.0 AS DOUBLE) AS b,
             p.lam / p.mu AS a, p.lam AS lam, p.mu AS mu
      FROM peak p
      UNION ALL
      SELECT c + 1, (a * b) / (c + 1 + a * b), a, lam, mu
      FROM erl WHERE c < 20
    )
    SELECT c AS servers,
           round(a / c, 6) AS rho,
           round(b / (1.0 - (a / c) * (1.0 - b)), 6) AS prob_wait,
           round(CASE WHEN c > a THEN
                   (b / (1.0 - (a / c) * (1.0 - b))) / (c * mu - lam) * 60.0
                 END, 6) AS asa_min,
           CAST(c > a AS BOOLEAN) AS stable
    FROM erl WHERE c >= 1
    ORDER BY c
    """,
)
def q_erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing curve: λ = the peak hour-of-day's mean arrival
    count per day from the event stream, μ = 20 services/hour; for
    c = 1..20 servers the utilization ρ, probability an arrival waits
    (Erlang C via the numerically stable Erlang-B recursion
    B_c = a·B_{c-1}/(c + a·B_{c-1})), and the average speed of answer
    C/(cμ−λ) in minutes — the sizing table read straight off for an
    SLA target.

    Determinism: λ is integer counts divided in double; the B recursion
    runs the identical double ops in the identical order in a pandas
    loop (Spark) and a recursive CTE (DuckDB), the batch-136 recipe
    with a 20-step, data-independent horizon.

    Scale: two count aggregates (hour-of-day histogram + distinct
    days); the recursion reads one row. §2.B queueing family [NS].
    """
    ev = load(spark, sf_dir, "events")
    # single scan (r6): the hourly totals and the distinct-day count each
    # re-scanned events; both derive exactly from ONE (date, hour) count
    # grid (checkpointed once, ≤days×24 rows): summing the grid per hour
    # reproduces the raw per-hour counts, and its distinct dates are the
    # distinct event dates
    dh = ev.groupBy(
        F.col("ts").cast("date").alias("dt"),
        F.hour("ts").cast("bigint").alias("h"),
    ).agg(bcount("c")).localCheckpoint(eager=True)
    hod = dh.groupBy("h").agg(F.sum("c").cast("bigint").alias("cnt"))
    days = dh.agg(F.countDistinct("dt").cast("bigint").alias("nd"))
    peak = (
        hod.agg(F.max("cnt").cast("double").alias("mx"))
        .crossJoin(F.broadcast(days))
        .select(
            (F.col("mx") / F.col("nd")).alias("lam"),
            F.lit(20.0).alias("mu"),
        )
    )

    def erlang(pdf: pd.DataFrame) -> pd.DataFrame:
        lam = float(pdf["lam"].iloc[0])
        mu = float(pdf["mu"].iloc[0])
        a = lam / mu
        rows = []
        b = 1.0
        for c in range(1, 21):
            b = (a * b) / (c + a * b)
            rho = a / c
            pw = b / (1.0 - rho * (1.0 - b))
            asa = pw / (c * mu - lam) * 60.0 if c > a else None
            rows.append((c, rho, pw, asa, c > a))
        return pd.DataFrame(
            rows, columns=["servers", "rho", "prob_wait", "asa_min", "stable"]
        )

    res = peak.groupBy(F.lit(1).alias("_g")).applyInPandas(
        erlang,
        "servers long, rho double, prob_wait double, asa_min double,"
        " stable boolean",
    )
    return res.select(
        F.col("servers").cast("bigint").alias("servers"),
        F.round("rho", 6).alias("rho"),
        F.round("prob_wait", 6).alias("prob_wait"),
        F.round("asa_min", 6).alias("asa_min"),
        "stable",
    ).orderBy("servers")


@register(
    "q_price_elasticity_ols",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 0
    ),
    pts AS (
      SELECT ln(price) AS x, ln(qty) AS y FROM per_part WHERE price > 0
    ),
    mom AS (
      SELECT {sql_ols_moments(sq=D15)},
             CAST(SUM(CAST(y * y AS DECIMAL(38,15))) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT n AS n_parts,
           round({OLS_SLOPE_SQL}, 6)
             AS elasticity,
           round((sy - {OLS_SLOPE_SQL} * sx) / n,
                 6) AS intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM mom
    """,
)
def q_price_elasticity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional price elasticity of demand: per part, effective
    unit price (revenue/quantity, exact decimal sums) and total
    quantity; OLS of ln(qty) on ln(price) across parts — the slope IS
    the elasticity estimate, with R² for fit quality. The canonical
    log-log demand regression.

    Determinism: per-part price/qty from exact decimal sums; OLS
    moments are decimal-exact sums of the ln points; slope/R² are one
    fixed double expression rounded at 6.

    Scale: one fact rollup to the part grain, one 1-row moment
    aggregate — two shuffles total, no joins. §2.B aggregation family
    [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("rev"),
            F.sum(dec("l_quantity")).cast("double").alias("qty"),
        )
        .filter(F.col("qty") > 0)
        .select((F.col("rev") / F.col("qty")).alias("price"), "qty")
        .filter(F.col("price") > 0)
    )
    pts = per_part.select(
        F.log("price").alias("x"), F.log("qty").alias("y")
    )
    mom = pts.agg(
        *ols_moments(sq=D15),
        F.sum((F.col("y") * F.col("y")).cast(D15)).cast("double").alias("syy"),
    )
    slope = ols_slope()
    return mom.select(
        F.col("n").alias("n_parts"),
        F.round(slope, 6).alias("elasticity"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


@register(
    "q_eoq_order_quantity",
    oracle="""
    WITH yrs AS (
      SELECT CAST(COUNT(DISTINCT year(l_shipdate)) AS BIGINT) AS ny
      FROM lineitem
    ),
    demand AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS unit_price
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 0
    ),
    eoq AS (
      SELECT d.l_partkey,
             d.qty / y.ny AS annual_demand,
             d.unit_price,
             sqrt(2.0 * (d.qty / y.ny) * 100.0 / (0.2 * d.unit_price))
               AS eoq
      FROM demand d, yrs y
    ),
    top AS (
      SELECT * FROM eoq ORDER BY annual_demand DESC, l_partkey LIMIT 10
    )
    SELECT l_partkey,
           round(annual_demand, 4) AS annual_demand,
           round(unit_price, 6) AS unit_price,
           round(eoq, 4) AS eoq,
           round(annual_demand / eoq, 4) AS orders_per_year
    FROM top
    ORDER BY round(annual_demand, 4) DESC, l_partkey
    """,
)
def q_eoq_order_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity for the 10 highest-demand parts:
    EOQ = √(2·D·K / h) with D the annualized demand (total quantity /
    distinct ship years), K = 100 fixed ordering cost, h = 20% of the
    part's effective unit price as annual holding cost — the
    square-root-law policy and its implied order cadence.

    Determinism: demand/price from exact decimal sums; the year count
    is an exact integer; the top-10 carries a partkey tiebreak.

    Scale: one fact rollup to the part grain; the 1-row year count is a
    whitelisted broadcast; top-10 is a sort-limit. §2.B aggregation/
    top-k family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    yrs = li.agg(
        F.countDistinct(F.year("l_shipdate")).cast("bigint").alias("ny")
    )
    demand = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("rev"),
        )
        .filter(F.col("qty") > 0)
        .select(
            "l_partkey", "qty", (F.col("rev") / F.col("qty")).alias("unit_price")
        )
    )
    eoq_df = demand.crossJoin(F.broadcast(yrs)).select(
        "l_partkey",
        (F.col("qty") / F.col("ny")).alias("annual_demand"),
        "unit_price",
        F.sqrt(
            2.0 * (F.col("qty") / F.col("ny")) * 100.0
            / (0.2 * F.col("unit_price"))
        ).alias("eoq"),
    )
    top = eoq_df.orderBy(F.col("annual_demand").desc(), "l_partkey").limit(10)
    return top.select(
        "l_partkey",
        F.round("annual_demand", 4).alias("annual_demand"),
        F.round("unit_price", 6).alias("unit_price"),
        F.round("eoq", 4).alias("eoq"),
        F.round(F.col("annual_demand") / F.col("eoq"), 4).alias(
            "orders_per_year"
        ),
    ).orderBy(F.col("annual_demand").desc(), "l_partkey")
