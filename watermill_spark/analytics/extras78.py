"""Analytics batch 86: 1-D DBSCAN over event timestamps (density-based
clustering with core/border/noise classification), precision–recall
curve points for the propensity score, and the condition number of the
daily revenue/volume covariance (closed-form 2×2 eigenvalues).

1-D DBSCAN is exactly computable with windows: a point is core iff ≥
minPts neighbors lie within eps (a rank-range count), clusters are
gaps-and-islands over core-reachable points — no iterative expansion
needed in one dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .relations import FIRST_EVENT_TYPES_SQL, first_event_types

_EPS_S = 300  # seconds
_MINPTS = 5


@register(
    "q_dbscan_1d",
    oracle=f"""
    WITH pts AS (
      SELECT epoch_us(ts) // 1000000 AS t, event_id
      FROM events
    ),
    ordered AS (
      SELECT t, event_id,
             CAST(ROW_NUMBER() OVER (ORDER BY t, event_id) AS BIGINT) AS i
      FROM pts
    ),
    -- neighbor counts within eps via rank positions (1-D trick:
    -- neighbors form a contiguous rank range)
    nb AS (
      SELECT a.i, a.t, a.event_id,
             CAST((SELECT COUNT(*) FROM ordered b
                   WHERE b.t BETWEEN a.t - {_EPS_S} AND a.t + {_EPS_S})
                  AS BIGINT) - 1 AS n_nb
      FROM ordered a
    ),
    core AS (
      SELECT i, t, n_nb, n_nb >= {_MINPTS} AS is_core
      FROM nb
    ),
    border AS (
      SELECT c.i, c.t, c.is_core,
             CASE WHEN c.is_core THEN FALSE
                  WHEN EXISTS (SELECT 1 FROM core k
                               WHERE k.is_core
                                 AND k.t BETWEEN c.t - {_EPS_S}
                                             AND c.t + {_EPS_S})
                  THEN TRUE ELSE FALSE END AS is_border
      FROM core c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(*) FILTER (WHERE is_core) AS BIGINT) AS n_core,
           CAST(COUNT(*) FILTER (WHERE is_border) AS BIGINT) AS n_border,
           CAST(COUNT(*) FILTER (WHERE NOT is_core AND NOT is_border)
                AS BIGINT) AS n_noise,
           round(CAST(COUNT(*) FILTER (WHERE NOT is_core AND NOT is_border)
                      AS DOUBLE) / COUNT(*), 6) AS noise_share
    FROM border
    """,
)
def q_dbscan_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D DBSCAN over event timestamps (eps = 5 min, minPts = 5):
    classify every event as core (≥5 neighbors within eps), border
    (non-core within eps of a core), or noise — density-based clustering
    made exact in one dimension because eps-neighborhoods are contiguous
    time ranges (a range-count, not a distance scan); the
    *density-aware* sibling of the fixed-gap sessionizer
    (q_events_sessionize treats one straggler event like a session;
    DBSCAN calls it noise).

    All-integer: epoch seconds, neighbor counts, class flags.

    Scale: in production both the neighbor count and the core-proximity
    test compile to range-frame windows over the time-sorted stream (one
    sort, O(n)); the correlated-count form here keeps the oracle 1:1.
    §2.B clustering surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        F.floor(F.unix_micros("ts") / 1000000).cast("bigint").alias("t"),
    )
    # 1-D trick: sort by t; neighbors within eps form a contiguous range,
    # countable with a RANGE window frame — no self-join.
    #
    # r7 (guide §2.5): the range windows used to run over RAW events —
    # every event through ONE task. Every event at the same second t has
    # the identical neighbor count and classification, so both windows
    # now run on the (t, count) grid and the final tallies are
    # count-weighted sums (identical integers). The grid is bounded by
    # the dataset's time RANGE in seconds (SF-invariant: more events per
    # second, same distinct seconds), the same boundedness class as the
    # audited day grids.
    grid = pts.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    wrange = Window.orderBy("t").rangeBetween(-_EPS_S, _EPS_S)
    nb = grid.select(
        "t",
        "c",
        (F.sum("c").over(wrange) - 1).cast("bigint").alias("n_nb"),
    )
    core = nb.select(
        "t", "c", "n_nb", (F.col("n_nb") >= _MINPTS).alias("is_core")
    )
    # border: non-core with >=1 core point within eps — another range
    # frame over the per-second core-point counts
    core_near = (
        F.sum(F.when(F.col("is_core"), F.col("c")).otherwise(0)).over(wrange)
        > 0
    )
    border = core.select(
        "c",
        "is_core",
        (~F.col("is_core") & core_near).alias("is_border"),
    )
    noise = ~F.col("is_core") & ~F.col("is_border")
    return border.agg(
        F.sum("c").cast("bigint").alias("n_points"),
        F.sum(F.when(F.col("is_core"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_core"),
        F.sum(F.when(F.col("is_border"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_border"),
        F.sum(F.when(noise, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_noise"),
        F.round(
            F.sum(F.when(noise, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c"),
            6,
        ).alias("noise_share"),
    )


@register(
    "q_pr_curve",
    oracle=f"""
    WITH firsts AS ({FIRST_EVENT_TYPES_SQL}),
    users AS (
      SELECT e.user_id,
             CAST(COUNT(*) AS BIGINT) AS score,
             MAX(CASE WHEN f.first_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events e
      JOIN firsts f ON f.user_id = e.user_id
      GROUP BY e.user_id
    ),
    ranked AS (
      SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, user_id)
                  AS BIGINT) AS r
      FROM users
    ),
    tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos FROM ranked),
    ks AS (SELECT UNNEST([10, 20, 50, 100, 200]) AS k),
    curve AS (
      SELECT ks.k,
             CAST(SUM(CASE WHEN r.r <= ks.k THEN r.y ELSE 0 END) AS BIGINT)
               AS tp
      FROM ks, ranked r GROUP BY ks.k
    )
    SELECT CAST(c.k AS BIGINT) AS k,
           c.tp AS true_positives,
           round(CAST(c.tp AS DOUBLE) / c.k, 6) AS precision_at_k,
           round(CAST(c.tp AS DOUBLE) / t.n_pos, 6) AS recall_at_k,
           round(2.0 * (CAST(c.tp AS DOUBLE) / c.k)
                 * (CAST(c.tp AS DOUBLE) / t.n_pos)
                 / NULLIF(CAST(c.tp AS DOUBLE) / c.k
                          + CAST(c.tp AS DOUBLE) / t.n_pos, 0), 6)
             AS f1_at_k
    FROM curve c, tot t
    ORDER BY k
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision–recall curve points at k in (10, 20, 50, 100, 200) for
    the activity propensity score (label: first event was a purchase):
    P@k, R@k, F1@k — the ranking-evaluation view that matters when
    positives are rare and ROC (q_auc_mann_whitney) is over-optimistic;
    with q_decile_lift and q_calibration_ece this completes the
    score-evaluation triptych (ranking / lift / calibration).

    Determinism: the ranking tiebreaks on user_id; all curve points are
    exact integer counts and ratios.

    Scale: one user rollup + one rank; the k spine is a 5-row broadcast
    over the ranked grid. §2.B ML-ops surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    firsts = first_event_types(spark, sf_dir)
    users = (
        ev.join(firsts, "user_id")
        .groupBy("user_id")
        .agg(
            bcount("score"),
            F.max(
                F.when(F.col("first_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
    )
    # checkpointed once (r6): the positives total and the k-sweep each
    # re-derived ranked → the events⨝firsts join (4 events scans in the
    # plan); the ranked per-user grid materializes once, leaving the
    # two-pass (window + join-agg) fact read the firsts shape needs
    ranked = users.select(
        "y",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "user_id"))
        .cast("bigint")
        .alias("r"),
    ).localCheckpoint(eager=True)
    tot = ranked.agg(F.sum("y").cast("bigint").alias("n_pos"))
    ks = spark.range(0, 5).select(
        F.element_at(
            F.array(*[F.lit(k) for k in (10, 20, 50, 100, 200)]),
            (F.col("id") + 1).cast("int"),
        ).alias("k")
    )
    curve = (
        ks.crossJoin(ranked)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("k"), F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("tp")
        )
    )
    j = curve.crossJoin(F.broadcast(tot))
    prec = F.col("tp").cast("double") / F.col("k")
    rec = F.col("tp").cast("double") / F.col("n_pos")
    return j.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("tp").alias("true_positives"),
        F.round(prec, 6).alias("precision_at_k"),
        F.round(rec, 6).alias("recall_at_k"),
        F.round(
            2.0 * prec * rec / F.nullif(prec + rec, F.lit(0)), 6
        ).alias("f1_at_k"),
    ).orderBy("k")


@register(
    "q_condition_number",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / 1e6 AS x,
             CAST(COUNT(*) AS DOUBLE) / 100 AS y
      FROM orders GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mx,
             CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS my,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS mxx,
             CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS myy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS mxy
      FROM daily
    ),
    cov AS (
      SELECT n, mxx - mx * mx AS a, myy - my * my AS c, mxy - mx * my AS b
      FROM mom
    ),
    eig AS (
      SELECT n, a, c, b,
             (a + c + sqrt((a - c) * (a - c) + 4 * b * b)) / 2 AS l1,
             (a + c - sqrt((a - c) * (a - c) + 4 * b * b)) / 2 AS l2
      FROM cov
    )
    SELECT n AS n_days,
           round(l1, 9) AS eigenvalue_max,
           round(l2, 9) AS eigenvalue_min,
           round(l1 / l2, 4) AS condition_number,
           round(b / sqrt(a * c), 6) AS correlation,
           CASE WHEN l1 / l2 > 100 THEN 'ill_conditioned'
                ELSE 'well_conditioned' END AS verdict
    FROM eig
    """,
)
def q_condition_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition number of the (scaled) daily revenue/volume covariance:
    closed-form 2×2 eigenvalues λ = (tr ± √((a−c)²+4b²))/2 and their
    ratio — the numerical-health check before any regression on these
    features (κ ≫ 100 means normal equations lose digits and
    q_gravity_model-style Cramer solves need centering/rescaling), with
    the correlation as the interpretable cause.

    Determinism: moments are exact decimal sums on pre-scaled values;
    the eigenvalue algebra is fixed-shape doubles.

    Scale: one map-side moment pass → 1-row closed form. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (F.sum(dec("o_totalprice")).cast("double") / F.lit(1e6)).alias("x"),
        (F.count(F.lit(1)).cast("double") / 100).alias("y"),
    )
    mom = daily.agg(
        bcount("n"),
        (
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mx"),
        (
            F.sum(F.col("y").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("my"),
        (
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mxx"),
        (
            F.sum((F.col("y") * F.col("y")).cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("myy"),
        (
            F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mxy"),
    )
    a = F.col("mxx") - F.col("mx") * F.col("mx")
    c = F.col("myy") - F.col("my") * F.col("my")
    b = F.col("mxy") - F.col("mx") * F.col("my")
    disc = F.sqrt((a - c) * (a - c) + 4 * b * b)
    l1 = (a + c + disc) / 2
    l2 = (a + c - disc) / 2
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(l1, 9).alias("eigenvalue_max"),
        F.round(l2, 9).alias("eigenvalue_min"),
        F.round(l1 / l2, 4).alias("condition_number"),
        F.round(b / F.sqrt(a * c), 6).alias("correlation"),
        F.when(l1 / l2 > 100, "ill_conditioned")
        .otherwise("well_conditioned")
        .alias("verdict"),
    )
