"""Analytics batch 78: Lloyd's k-means over the embedding corpus (2
deterministic unrolled rounds), kneedle elbow detection on the user
activity curve, and 2-D Mahalanobis outlier detection on the daily
(revenue, order-count) plane.

k-means completes the clustering family (q_label_centroids uses given
labels; q_knn_ivf uses computed cells for search; this *fits* clusters):
deterministic seeding (vec_id 0..k−1), argmin assignment on rounded
distances with centroid-id tiebreak, exact-decimal centroid updates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .distrib import two_level_order
from .registry import load, register

_KM_K = 5
_KM_ROUNDS = 2

_KM_ASSIGN_SQL = """
      SELECT f.vec_id, d.cid, d.d2,
             ROW_NUMBER() OVER (PARTITION BY f.vec_id
                                ORDER BY d.d2, d.cid) AS rn
      FROM (SELECT DISTINCT vec_id FROM flat) f
      JOIN (
        SELECT fl.vec_id, c.cid,
               round(CAST(SUM(CAST((fl.x - c.c) * (fl.x - c.c)
                        AS DECIMAL(28,12))) AS DOUBLE), 6) AS d2
        FROM flat fl JOIN {cent} c ON c.i = fl.i
        GROUP BY fl.vec_id, c.cid
      ) d ON d.vec_id = f.vec_id
"""

_KM_UPDATE_SQL = """
      SELECT a.cid, fl.i,
             CAST(SUM(CAST(fl.x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS c
      FROM flat fl JOIN (SELECT vec_id, cid FROM {assign} WHERE rn = 1) a
        ON a.vec_id = fl.vec_id
      GROUP BY a.cid, fl.i
"""


@register(
    "q_kmeans_lloyd",
    oracle=f"""
    WITH flat AS (
      SELECT e.vec_id, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
      FROM embeddings e, (SELECT UNNEST(range(1, 65)) AS i) d
    ),
    cent0 AS (
      SELECT vec_id AS cid, i, x AS c FROM flat WHERE vec_id < {_KM_K}
    ),
    assign1 AS ({_KM_ASSIGN_SQL.format(cent="cent0")}),
    cent1 AS ({_KM_UPDATE_SQL.format(assign="assign1")}),
    assign2 AS ({_KM_ASSIGN_SQL.format(cent="cent1")}),
    cent2 AS ({_KM_UPDATE_SQL.format(assign="assign2")}),
    final_assign AS ({_KM_ASSIGN_SQL.format(cent="cent2")}),
    sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(CAST(d2 AS DECIMAL(28,6))) AS DOUBLE) AS inertia
      FROM final_assign WHERE rn = 1 GROUP BY cid
    )
    SELECT CAST(cid AS BIGINT) AS cluster, n_members,
           round(inertia, 4) AS inertia,
           round(inertia / n_members, 6) AS mean_d2
    FROM sizes
    """,
)
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=5) on the embedding corpus, 2 synchronous
    rounds from deterministic seeds (vectors 0..4): assign each vector to
    the nearest centroid (rounded distance, centroid-id tiebreak), update
    centroids as exact-decimal means, repeat; report final cluster sizes
    and within-cluster inertia — the unsupervised complement to
    q_label_centroids / q_nearest_centroid_confusion and the codebook
    builder behind any IVF index (q_knn_ivf probes what this fits).

    Determinism: rounded-distance argmin with cid tiebreak makes every
    assignment unambiguous; centroid updates are decimal-sum means; both
    engines run the identical unrolled recursion.

    Scale (r6 rewrite): the old per-dimension shape joined the exploded
    (vec, dim, x) stream with the centroids ON THE DIM KEY — k×64 rows
    per vector through a join, a (vec, cid) aggregation shuffle, and a
    vec-partitioned argmin window, per round. Assignment is now a pure
    per-row expression: the k×64 centroid grid collapses to ONE row (an
    array of (cid, centroid-array) structs, the audited 1-row
    cross-attach pattern), each vector computes all k distances with a
    zip_with/aggregate fold over its own array, and
    array_min(struct(d2, cid)) IS the (d2, cid) argmin — zero shuffles,
    zero window. Distances are the identical per-element
    DECIMAL(28,12)-cast squares summed in the same (38,12) accumulator
    Spark's SUM uses, so every rounded d2 is bit-identical. Only the
    centroid UPDATE shuffles: one explode → (cid, pos) grid aggregate
    (map-side combined, ≤k×64 result rows). Rounds are fixed
    (production iterates to movement < ε with the same plan per round).
    §2.B clustering surface [NS], guide §2.4.
    """
    # no checkpoint: the columnar scan re-reads at ~1/20 the cost of
    # materializing 64-wide double arrays (measured 0.22 s vs 4.7 s at
    # sf1), and each round's consumer is a pure map over it
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("xs")
    )
    # The fold accumulates in exact BIGINT micro-units because a decimal
    # accumulator cannot keep its type through `acc + v` (Spark widens to
    # (38,11), losing the 12th digit). Per element: the identical
    # DECIMAL(28,12) cast as before, ×10¹² (integral, exact at the (38,1)
    # product type), to BIGINT. The fold is plain long addition (≤64
    # elements × ≤4e12 each — 4 decimal orders below overflow for these
    # unit-norm embeddings). Reconstructing via DECIMAL(26,0)/10¹² yields
    # the exact (38,12) decimal sum, so the final DOUBLE and round(·,6)
    # are bit-identical to the old per-dimension SUM.
    # r7 measured-and-kept: unrolling the k×64 micro-unit fold into a
    # flat 2,500-node generated expression (to get it out of interpreted
    # higher-order-function evaluation) was A/B'd at sf1 and came out
    # SLOWER — 19.9 s (fold) vs 29.7 s (unrolled; the expression blows
    # past codegen method limits and falls back to interpreted projection
    # of the giant tree). The interpreted fold below stays — the round's
    # shuffle structure (13d) is already minimal.
    _D2 = (
        "transform(cents, c -> struct("
        " round(CAST("
        "   CAST(aggregate("
        "     zip_with(xs, c.cs, (x, y) ->"
        "       CAST(CAST((x - y) * (x - y) AS DECIMAL(28,12))"
        "            * 1000000000000 AS BIGINT)),"
        "     CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DECIMAL(26,0))"
        "   / CAST(1000000000000 AS DECIMAL(13,0))"
        " AS DOUBLE), 6) AS d2,"
        " c.cid AS cid))"
    )

    def assign(cent1: DataFrame) -> DataFrame:
        m = F.array_min(F.expr(_D2))
        return emb.join(F.broadcast(cent1)).select(
            "vec_id", "xs", m["d2"].alias("d2"), m["cid"].alias("cid")
        )

    def update(asg: DataFrame) -> DataFrame:
        percomp = (
            asg.select("cid", F.posexplode("xs").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("c")
            )
        )
        percid = percomp.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cs")
        )
        return percid.agg(
            F.sort_array(F.collect_list(F.struct("cid", "cs"))).alias("cents")
        )

    cent1 = emb.filter(F.col("vec_id") < _KM_K).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("vec_id").alias("cid"), F.col("xs").alias("cs")))
        ).alias("cents")
    )
    for _ in range(_KM_ROUNDS):
        cent1 = update(assign(cent1)).localCheckpoint(eager=True)
    final = assign(cent1)
    sizes = final.groupBy("cid").agg(
        bcount("n_members"),
        F.sum(F.col("d2").cast("decimal(28,6)")).cast("double").alias("inertia"),
    )
    return sizes.select(
        F.col("cid").cast("bigint").alias("cluster"),
        "n_members",
        F.round("inertia", 4).alias("inertia"),
        F.round(F.col("inertia") / F.col("n_members"), 6).alias("mean_d2"),
    )


@register(
    "q_knee_detection",
    oracle="""
    WITH users AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT n_events,
             CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id)
                  AS BIGINT) AS r,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(MAX(n_events) OVER () AS BIGINT) AS mx,
             CAST(MIN(n_events) OVER () AS BIGINT) AS mn
      FROM users
    ),
    norm AS (
      SELECT r, n_events,
             CAST(r - 1 AS DOUBLE) / (n - 1) AS xn,
             CAST(n_events - mn AS DOUBLE) / (mx - mn) AS yn
      FROM ranked WHERE n > 1 AND mx > mn
    ),
    kneedle AS (
      SELECT r, n_events, xn, yn,
             yn - (1.0 - xn) AS dist,
             ROW_NUMBER() OVER (ORDER BY yn - (1.0 - xn) DESC, r) AS pick
      FROM norm
    )
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM ranked) AS n_users,
           CAST(r AS BIGINT) AS knee_rank,
           CAST(n_events AS BIGINT) AS knee_activity,
           round(dist, 6) AS knee_distance,
           round(CAST(r AS DOUBLE)
                 / (SELECT MAX(n) FROM ranked), 6) AS knee_user_share
    FROM kneedle WHERE pick = 1
    """,
)
def q_knee_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneedle elbow detection on the sorted user-activity curve:
    normalize the rank-vs-activity curve to the unit square and pick the
    point furthest above the descending diagonal (the maximum-curvature
    knee) — the principled answer to "where does the heavy-user head
    end?", which q_user_power_curve draws but eyeballs; the same
    operator picks k on an inertia curve or a cutoff on any scree plot.

    Determinism: the curve is exact integer ranks/counts; normalized
    coordinates are fixed-shape ratios; the argmax tiebreaks on rank.

    Scale: one user rollup, one global sort, one argmax window. §2.B
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(bcount("n_events"))
    # r7 (guide §2.5): rank + the three global scalars ran as FOUR
    # single-task windows over the data-scaled user grid; one
    # two_level_order call computes the identical rank (unique order) and
    # the order-free count/max/min totals ride the offset grid. The
    # kneedle argmax below keeps its rank-1 window: the optimizer
    # rewrites row_number + rank-1 filter into TakeOrderedAndProject
    # (parallel per-partition top-1), so no data-scaled single-task
    # stage remains (plans/r07/q_knee_detection_after.txt).
    ranked = two_level_order(
        users.select("n_events", "user_id"),
        [F.col("n_events").desc(), "user_id"],
        rank_col="r",
        total_count="n",
        sums=[
            {"col": "n_events", "kind": "max", "total": "mx"},
            {"col": "n_events", "kind": "min", "total": "mn"},
        ],
        project=["n_events"],
    )
    norm = ranked.filter((F.col("n") > 1) & (F.col("mx") > F.col("mn"))).select(
        "r",
        "n_events",
        "n",
        ((F.col("r") - 1).cast("double") / (F.col("n") - 1)).alias("xn"),
        (
            (F.col("n_events") - F.col("mn")).cast("double")
            / (F.col("mx") - F.col("mn"))
        ).alias("yn"),
    )
    kneedle = norm.select(
        "r",
        "n_events",
        "n",
        (F.col("yn") - (1.0 - F.col("xn"))).alias("dist"),
        F.row_number()
        .over(Window.orderBy((F.col("yn") - (1.0 - F.col("xn"))).desc(), "r"))
        .alias("pick"),
    ).filter(F.col("pick") == 1)
    return kneedle.select(
        F.col("n").alias("n_users"),
        F.col("r").cast("bigint").alias("knee_rank"),
        F.col("n_events").cast("bigint").alias("knee_activity"),
        F.round("dist", 6).alias("knee_distance"),
        F.round(F.col("r").cast("double") / F.col("n"), 6).alias(
            "knee_user_share"
        ),
    )


@register(
    "q_mahalanobis_outliers",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS x,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS my,
             CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS mxx,
             CAST(SUM(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS myy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS mxy
      FROM daily
    ),
    cov AS (
      SELECT n, mx, my,
             mxx - mx * mx AS sxx, myy - my * my AS syy,
             mxy - mx * my AS sxy
      FROM mom
    ),
    scored AS (
      SELECT d.d, d.x, d.y,
             ((d.x - c.mx) * (d.x - c.mx) * c.syy
              - 2 * (d.x - c.mx) * (d.y - c.my) * c.sxy
              + (d.y - c.my) * (d.y - c.my) * c.sxx)
             / (c.sxx * c.syy - c.sxy * c.sxy) AS md2
      FROM daily d, cov c
    )
    SELECT d, round(x, 2) AS revenue, CAST(y AS BIGINT) AS n_orders,
           round(md2, 6) AS mahalanobis_d2,
           CASE WHEN md2 > 13.815511 THEN 1 ELSE 0 END AS beyond_999
    FROM scored
    ORDER BY md2 DESC, d
    LIMIT 10
    """,
)
def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Mahalanobis outliers on the daily (revenue, order count)
    plane: D² = Δᵀ Σ⁻¹ Δ with the 2×2 covariance inverted in closed form,
    top-10 days with the χ²(2) 99.9% flag — the correlation-aware outlier
    detector that univariate rules (q_price_outliers_iqr, q_mad_outliers,
    q_events_anomaly_zscore) can't replicate: a day can be normal in each
    margin yet wildly off the joint ellipse (e.g. high revenue on very
    few orders).

    Determinism: all moments are exact decimal sums; D² is fixed-shape
    double algebra; top-10 tiebreaks on date.

    Scale: 1-row covariance broadcast to the calendar-bounded daily grid;
    top-10 is TakeOrdered. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the covariance moments and the scoring
    # pass both re-derived the rollup (2 orders scans in the plan); the
    # calendar-bounded day grid materializes once
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(dec("o_totalprice")).cast("double").alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    ).localCheckpoint(eager=True)
    mom = daily.agg(
        bcount("n"),
        (F.sum(dec("x")).cast("double") / F.count(F.lit(1))).alias("mx"),
        (F.sum(dec("y")).cast("double") / F.count(F.lit(1))).alias("my"),
        (
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mxx"),
        (
            F.sum((F.col("y") * F.col("y")).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("myy"),
        (
            F.sum((F.col("x") * F.col("y")).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mxy"),
    )
    cov = mom.select(
        "mx",
        "my",
        (F.col("mxx") - F.col("mx") * F.col("mx")).alias("sxx"),
        (F.col("myy") - F.col("my") * F.col("my")).alias("syy"),
        (F.col("mxy") - F.col("mx") * F.col("my")).alias("sxy"),
    )
    scored = daily.crossJoin(F.broadcast(cov))
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    det = F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy")
    md2 = (
        dx * dx * F.col("syy") - 2 * dx * dy * F.col("sxy") + dy * dy * F.col("sxx")
    ) / det
    return (
        scored.select(
            "d",
            F.round("x", 2).alias("revenue"),
            F.col("y").cast("bigint").alias("n_orders"),
            F.round(md2, 6).alias("mahalanobis_d2"),
            F.when(md2 > 13.815511, 1).otherwise(0).alias("beyond_999"),
        )
        .orderBy(F.col("mahalanobis_d2").desc(), "d")
        .limit(10)
    )
