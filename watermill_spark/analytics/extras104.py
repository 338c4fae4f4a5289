"""Analytics batch 112: regression discontinuity design, t-closeness
privacy audit, and the Slope One collaborative-filtering model.

RDD is the workhorse quasi-experiment when treatment flips at a cutoff
of a running variable (negative account balance ⇒ collections outreach):
fit local linear regressions on each side of the cutoff and read the
treatment effect off the intercept jump. t-closeness completes the
privacy-audit trio (k-anonymity → l-diversity → t-closeness): each
quasi-identifier class's sensitive-value distribution must sit within
EMD t of the global distribution. Slope One is the famously simple
item-item recommender: average per-user rating differences between item
pairs, the model Netflix-era systems used as a baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, OLS_SLOPE_SQL, bcount, dec
from .registry import load, register

_RDD_CUT = 0.0
_RDD_H = 500.0  # bandwidth on each side of the cutoff
_TC_BUCKETS = 10


@register(
    "q_regression_discontinuity",
    oracle=f"""
    WITH base AS (
      SELECT c.c_custkey, c.c_acctbal AS x,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_acctbal >= {_RDD_CUT - _RDD_H}
        AND c.c_acctbal < {_RDD_CUT + _RDD_H}
      GROUP BY 1, 2
    ),
    sides AS (
      SELECT CASE WHEN x >= {_RDD_CUT} THEN 1 ELSE 0 END AS side,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x - {_RDD_CUT} AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST((x - {_RDD_CUT}) * y AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST((x - {_RDD_CUT}) * (x - {_RDD_CUT})
                           AS DECIMAL(38,15))) AS DOUBLE) AS sxx
      FROM base GROUP BY 1
    ),
    fits AS (
      SELECT side, n,
             {OLS_SLOPE_SQL} AS slope,
             (sy - {OLS_SLOPE_SQL} * sx) / n
               AS intercept
      FROM sides
    )
    SELECT MAX(CASE WHEN side = 0 THEN n END) AS n_left,
           MAX(CASE WHEN side = 1 THEN n END) AS n_right,
           round(MAX(CASE WHEN side = 0 THEN intercept END), 4) AS y_left_at_cut,
           round(MAX(CASE WHEN side = 1 THEN intercept END), 4) AS y_right_at_cut,
           round(MAX(CASE WHEN side = 1 THEN intercept END)
                 - MAX(CASE WHEN side = 0 THEN intercept END), 4) AS rdd_effect,
           round(MAX(CASE WHEN side = 0 THEN slope END), 6) AS slope_left,
           round(MAX(CASE WHEN side = 1 THEN slope END), 6) AS slope_right
    FROM fits
    """,
)
def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity at account balance 0: customers just
    below vs just above the cutoff (bandwidth ±500), outcome = total order
    spend. A local linear OLS per side (closed-form normal equations on
    exact sums), effect = intercept jump at the cutoff — the
    quasi-experimental sibling of q_diff_in_diff / q_caliper_matching for
    threshold-assigned treatments.

    Determinism: per-side moment sums (Σx, Σy, Σxy, Σx²) accumulate as
    DECIMAL(38,15) with per-term double products; slope/intercept are
    closed-form double on those exact moments (det.py rules 1-2).

    Scale: the bandwidth predicate pushes into the customer scan; one
    broadcast-able join to orders, one map-side-combined rollup, then a
    2-row aggregation — no shuffle beyond the join and group-by. §2.B [NS].
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    base = (
        cust.filter(
            (F.col("c_acctbal") >= _RDD_CUT - _RDD_H)
            & (F.col("c_acctbal") < _RDD_CUT + _RDD_H)
        )
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", F.col("c_acctbal").alias("x"))
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("y"))
    )
    xc = F.col("x") - F.lit(_RDD_CUT)
    sides = base.groupBy(
        F.when(F.col("x") >= _RDD_CUT, 1).otherwise(0).alias("side")
    ).agg(
        bcount("n"),
        F.sum(xc.cast(D15)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(D15)).cast("double").alias("sy"),
        F.sum((xc * F.col("y")).cast(D15)).cast("double").alias("sxy"),
        F.sum((xc * xc).cast(D15)).cast("double").alias("sxx"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    fits = sides.select("side", "n", slope.alias("slope"), intercept.alias("intercept"))
    return fits.agg(
        F.max(F.when(F.col("side") == 0, F.col("n"))).alias("n_left"),
        F.max(F.when(F.col("side") == 1, F.col("n"))).alias("n_right"),
        F.round(
            F.max(F.when(F.col("side") == 0, F.col("intercept"))), 4
        ).alias("y_left_at_cut"),
        F.round(
            F.max(F.when(F.col("side") == 1, F.col("intercept"))), 4
        ).alias("y_right_at_cut"),
        F.round(
            F.max(F.when(F.col("side") == 1, F.col("intercept")))
            - F.max(F.when(F.col("side") == 0, F.col("intercept"))),
            4,
        ).alias("rdd_effect"),
        F.round(F.max(F.when(F.col("side") == 0, F.col("slope"))), 6).alias(
            "slope_left"
        ),
        F.round(F.max(F.when(F.col("side") == 1, F.col("slope"))), 6).alias(
            "slope_right"
        ),
    )


@register(
    "q_t_closeness",
    oracle=f"""
    WITH rows_b AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(LEAST(GREATEST(floor(c_acctbal / 1200) + 1, 0),
                        {_TC_BUCKETS - 1}) AS BIGINT) AS b
      FROM customer
    ),
    gdist AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS gc,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_b) AS gn
      FROM rows_b GROUP BY 1
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, b, CAST(COUNT(*) AS BIGINT) AS cc
      FROM rows_b GROUP BY 1, 2, 3
    ),
    csize AS (
      SELECT c_nationkey, c_mktsegment, CAST(SUM(cc) AS BIGINT) AS cn
      FROM cls GROUP BY 1, 2
    ),
    dense AS (
      SELECT s.c_nationkey, s.c_mktsegment, g.b,
             CAST(COALESCE(c.cc, 0) AS DOUBLE) / s.cn AS cp,
             CAST(g.gc AS DOUBLE) / g.gn AS gp
      FROM csize s CROSS JOIN gdist g
      LEFT JOIN cls c ON c.c_nationkey = s.c_nationkey
                     AND c.c_mktsegment = s.c_mktsegment AND c.b = g.b
    ),
    cums AS (
      SELECT c_nationkey, c_mktsegment,
             SUM(cp - gp) OVER (
               PARTITION BY c_nationkey, c_mktsegment
               ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM dense
    ),
    emd AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(SUM(CAST(abs(cum) / ({_TC_BUCKETS} - 1)
                           AS DECIMAL(38,15))) AS DOUBLE) AS t
      FROM cums GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           round(MAX(t), 6) AS max_t,
           round(MIN(t), 6) AS min_t,
           CAST(COUNT(*) FILTER (WHERE t > 0.2) AS BIGINT) AS classes_above_02
    FROM emd
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit under the (nation, market segment) quasi-identifier
    with account balance (10 equal-width buckets) as the sensitive
    attribute: per equivalence class, the normalized 1-D earth-mover's
    distance between the class's bucket distribution and the global one
    (EMD over ordered buckets = mean |cumulative difference| / (m−1)).
    Completes q_k_anonymity's release gate — a class can be large AND
    diverse yet still leak by *skew* against the population, which is
    exactly what t-closeness catches.

    Determinism: bucket ids and counts are exact integers; the EMD
    accumulates |cum Δp| through DECIMAL(38,15); cumulative windows use
    explicit ROWS frames.

    Scale: two map-side-combined rollups; the dense grid is
    |classes|×10 via a broadcast of the 10-row global distribution; the
    EMD window partitions by class over 10 rows each. §2.B [NS].
    """
    cust = load(spark, sf_dir, "customer")
    b = F.least(
        F.greatest(F.floor(F.col("c_acctbal") / 1200) + 1, F.lit(0)),
        F.lit(_TC_BUCKETS - 1),
    ).cast("bigint")
    rows_b = cust.select("c_nationkey", "c_mktsegment", b.alias("b"))
    # r6: the global bucket histogram, the global total, and the class
    # grid each re-scanned customer (4 scans in the plan). The bounded
    # ≤|nations|×|segments|×buckets class grid is the finest grain — it
    # materializes once and the global marginals are its exact integer
    # column sums: 4 fact scans → 1.
    cls = (
        rows_b.groupBy("c_nationkey", "c_mktsegment", "b")
        .agg(bcount("cc"))
        .localCheckpoint(eager=True)
    )
    glob = (
        cls.groupBy("b")
        .agg(F.sum("cc").cast("bigint").alias("gc"))
        .crossJoin(
            F.broadcast(cls.agg(F.sum("cc").cast("bigint").alias("gn")))
        )
    )
    csize = cls.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cc").cast("bigint").alias("cn")
    )
    dense = (
        csize.crossJoin(F.broadcast(glob))
        .join(cls, ["c_nationkey", "c_mktsegment", "b"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "b",
            (F.coalesce(F.col("cc"), F.lit(0)).cast("double") / F.col("cn")).alias(
                "cp"
            ),
            (F.col("gc").cast("double") / F.col("gn")).alias("gp"),
        )
    )
    wcum = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    emd = (
        dense.withColumn("cum", F.sum(F.col("cp") - F.col("gp")).over(wcum))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum((F.abs("cum") / F.lit(float(_TC_BUCKETS - 1))).cast(D15))
            .cast("double")
            .alias("t")
        )
    )
    return emd.agg(
        bcount("n_classes"),
        F.round(F.max("t"), 6).alias("max_t"),
        F.round(F.min("t"), 6).alias("min_t"),
        F.sum(F.when(F.col("t") > 0.2, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_above_02"),
    )


@register(
    "q_slope_one",
    oracle="""
    WITH ratings AS (
      SELECT o.o_custkey AS u, p.p_brand AS i,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS r
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    )
    SELECT a.i AS brand_a, b.i AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS support,
           round(CAST(SUM(CAST(a.r - b.r AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS deviation
    FROM ratings a JOIN ratings b ON a.u = b.u AND a.i < b.i
    GROUP BY 1, 2
    HAVING COUNT(*) >= 20
    ORDER BY brand_a, brand_b
    """,
)
def q_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope One collaborative filtering model over (customer, brand)
    implicit ratings (average line price paid): for every brand pair rated
    by ≥20 common customers, deviation = mean per-customer rating
    difference. Prediction for user u on brand j is then
    avg_i(r_ui + dev(j,i)) weighted by support — the model table IS this
    output; the famous "simplest thing that works" item-item recommender,
    complementing q_item_item_cosine's similarity form.

    Determinism: ratings are exact-decimal-sum / count doubles; pairwise
    deviations accumulate through DECIMAL(38,15); (a,b) ordered by brand
    string with a<b so each pair appears once.

    Scale: the pair join is keyed on user — per-user brand lists are
    bounded (≤25 brands), so the self-join fans out at most 25²/2 per
    user: linear in users, never quadratic in the catalog. One shuffle
    for ratings, one keyed self-join, one pair rollup. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    ratings = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("o_custkey").alias("u"), F.col("p_brand").alias("i"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias(
                "r"
            )
        )
    )
    # checkpointed once (r6): both sides of the item-pair self-join
    # re-derived the three-table fact star (6 fact scans in the plan);
    # the ≤|customers|×|brands| rating grid materializes once
    ratings = ratings.localCheckpoint(eager=True)
    a = ratings.select(
        F.col("u"), F.col("i").alias("brand_a"), F.col("r").alias("ra")
    )
    bb = ratings.select(
        F.col("u"), F.col("i").alias("brand_b"), F.col("r").alias("rb")
    )
    return (
        a.join(bb, ["u"])
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(
            bcount("support"),
            F.round(
                F.sum((F.col("ra") - F.col("rb")).cast(D15)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("deviation"),
        )
        .filter(F.col("support") >= 20)
        .orderBy("brand_a", "brand_b")
    )
