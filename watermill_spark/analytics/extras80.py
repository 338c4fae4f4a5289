"""Analytics batch 88: coupon-collector analysis of region coverage,
exact 1-D Wasserstein (earth-mover) distance between the A/B arms, and
the M/G/1 Pollaczek–Khinchine queueing formula on the event stream.

Wasserstein-1 in one dimension is exactly ∫|F₁−F₂| dx — a sorted sweep
over the union support with ECDF step differences, no transport LP —
completing the distribution-distance family (KS: sup-norm, JS/KL:
likelihood, W₁: metric-aware mass displacement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval, telescoped_lambda
from .registry import load, register

# 5*H_5 = 5*(1 + 1/2 + 1/3 + 1/4 + 1/5)
_COUPON_EXPECTED = 11.416666666666666


@register(
    "q_coupon_collector",
    oracle=f"""
    WITH order_region AS (
      SELECT o.o_custkey, o.o_orderkey, o.o_orderdate,
             s.s_nationkey % 5 AS region
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ),
    ranked_orders AS (
      SELECT o_custkey, o_orderkey,
             DENSE_RANK() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS ord_pos
      FROM (SELECT DISTINCT o_custkey, o_orderkey, o_orderdate
            FROM order_region)
    ),
    first_cover AS (
      SELECT r.o_custkey, orr.region,
             CAST(MIN(r.ord_pos) AS BIGINT) AS first_pos
      FROM order_region orr
      JOIN ranked_orders r ON r.o_orderkey = orr.o_orderkey
      GROUP BY 1, 2
    ),
    completion AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS regions_covered,
             CAST(MAX(first_pos) AS BIGINT) AS orders_to_complete
      FROM first_cover GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) FILTER (WHERE regions_covered = 5) AS BIGINT)
             AS n_completed,
           round(CAST(COUNT(*) FILTER (WHERE regions_covered = 5)
                      AS DOUBLE) / COUNT(*), 6) AS completion_rate,
           round(CAST(SUM(CASE WHEN regions_covered = 5
                          THEN orders_to_complete END) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE regions_covered = 5), 4)
             AS avg_orders_to_complete,
           CAST({_COUPON_EXPECTED!r} AS DOUBLE) AS expected_iid_uniform,
           round(CAST(SUM(CASE WHEN regions_covered = 5
                          THEN orders_to_complete END) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE regions_covered = 5)
                 / CAST({_COUPON_EXPECTED!r} AS DOUBLE), 4)
             AS vs_expected_ratio
    FROM completion
    """,
)
def q_coupon_collector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coupon-collector analysis of supplier-region coverage: for each
    customer, the order at which they have bought from all 5 region
    buckets (max over buckets of the first-covering order position),
    compared against the i.i.d.-uniform expectation 5·H₅ ≈ 11.42 — the
    classic occupancy bound applied to cross-region penetration: taking
    much longer than 11.4 orders means regional loyalty, much shorter
    means forced diversification.

    Determinism: order positions are dense ranks with orderkey tiebreak;
    first-cover positions and the completion max are exact integers; the
    expectation is a shared literal.

    Scale: the star join collapses to (customer, region, first position)
    — two map-side-combined groupBys after one orderkey-clustered join.
    §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    order_region = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            (F.col("s_nationkey") % 5).alias("region"),
        )
    )
    # r6: ranked_orders and first_cover each re-derived the three-table
    # fact star (6 fact scans in the plan). Both consumers only need the
    # DISTINCT (customer, order, date, region) incidence — duplicates
    # from multi-lineitem orders change neither the dense_rank set nor
    # min(ord_pos) — so that grid (≤|orders|×5 regions) materializes
    # once and both derive from it: 6 fact scans → 3 (one per table).
    ord_grid = order_region.distinct().localCheckpoint(eager=True)
    ranked_orders = (
        ord_grid.select("o_custkey", "o_orderkey", "o_orderdate")
        .distinct()
        .select(
            "o_custkey",
            "o_orderkey",
            F.dense_rank()
            .over(
                Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            )
            .alias("ord_pos"),
        )
    )
    first_cover = (
        ord_grid.join(
            ranked_orders.select("o_orderkey", "ord_pos"), "o_orderkey"
        )
        .groupBy("o_custkey", "region")
        .agg(F.min("ord_pos").cast("bigint").alias("first_pos"))
    )
    completion = first_cover.groupBy("o_custkey").agg(
        bcount("regions_covered"),
        F.max("first_pos").cast("bigint").alias("orders_to_complete"),
    )
    done = F.col("regions_covered") == 5
    avg_cmpl = F.sum(
        F.when(done, F.col("orders_to_complete"))
    ).cast("double") / F.count_if(done)
    return completion.agg(
        bcount("n_customers"),
        F.count_if(done).cast("bigint").alias("n_completed"),
        F.round(F.count_if(done).cast("double") / F.count(F.lit(1)), 6).alias(
            "completion_rate"
        ),
        F.round(avg_cmpl, 4).alias("avg_orders_to_complete"),
        F.lit(_COUPON_EXPECTED).alias("expected_iid_uniform"),
        F.round(avg_cmpl / F.lit(_COUPON_EXPECTED), 4).alias(
            "vs_expected_ratio"
        ),
    )


@register(
    "q_wasserstein_1d",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS k,
             CASE WHEN {sql_hexval("substr(md5('w1:' || CAST(user_id AS VARCHAR)), 1, 1)")}
               % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      FROM events GROUP BY 1
    ),
    support AS (
      SELECT k,
             CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS ca,
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS cb
      FROM users GROUP BY k
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM support
    ),
    steps AS (
      SELECT k,
             CAST(SUM(ca) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_b,
             CAST(LEAD(k) OVER (ORDER BY k) - k AS BIGINT) AS gap
      FROM support
    ),
    w AS (
      SELECT CAST(SUM(CAST(
               abs(CAST(s.cum_a AS DOUBLE) / t.na
                   - CAST(s.cum_b AS DOUBLE) / t.nb) * s.gap
             AS DECIMAL(28,15))) AS DOUBLE) AS w1
      FROM steps s, tot t WHERE s.gap IS NOT NULL
    )
    SELECT t.na AS n_arm_a, t.nb AS n_arm_b,
           round(w.w1, 6) AS wasserstein_1,
           round(w.w1 / (SELECT CAST(SUM(k * (ca + cb)) AS DOUBLE)
                         / (t.na + t.nb) FROM support), 6)
             AS w1_over_mean
    FROM w, tot t
    """,
)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between the two
    hash-split arms' per-user event-count distributions:
    W₁ = ∫|F_A − F_B| dx evaluated as a sorted sweep over the union
    support (ECDF step difference × support gap) — the metric-aware
    distribution distance that knows HOW FAR mass moved, completing the
    two-sample family (q_ks_two_sample: worst gap; q_js_divergence:
    likelihood; W₁: transport cost), and the standard drift metric for
    feature monitoring.

    Determinism: ECDFs are exact integer cumulative counts over the
    integer support; each |ΔF|·gap term is DECIMAL-cast before summation.

    Scale: the sweep runs on the *support histogram* (≤ distinct count
    values), not on users — one rollup, one ordered window over a tiny
    grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("w1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    # arm projected after the aggregate — pure function of the group key
    # (r6: string agg buffers force SortAggregate over all of events)
    users = ev.groupBy("user_id").agg(bcount("k")).withColumn("arm", arm)
    support = users.groupBy("k").agg(
        F.count_if(F.col("arm") == "A").cast("bigint").alias("ca"),
        F.count_if(F.col("arm") == "B").cast("bigint").alias("cb"),
    )
    # checkpointed once (r6): totals, the CDF steps, and the mean each
    # re-derived the support histogram → per-user rollup → fact chain
    # (4 events scans in the plan); the ≤|distinct k| histogram
    # materializes once
    support = support.localCheckpoint(eager=True)
    tot = support.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    wseq = Window.orderBy("k")
    steps = support.select(
        "k",
        F.sum("ca")
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_a"),
        F.sum("cb")
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_b"),
        (F.lead("k").over(wseq) - F.col("k")).cast("bigint").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    term = (
        F.abs(
            F.col("cum_a").cast("double") / F.col("na")
            - F.col("cum_b").cast("double") / F.col("nb")
        )
        * F.col("gap")
    ).cast("decimal(28,15)")
    w = steps.crossJoin(F.broadcast(tot)).agg(
        F.sum(term).cast("double").alias("w1"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    mean_k = support.crossJoin(F.broadcast(tot)).agg(
        (
            F.sum(F.col("k") * (F.col("ca") + F.col("cb"))).cast("double")
            / F.max(F.col("na") + F.col("nb"))
        ).alias("mk")
    )
    return w.crossJoin(F.broadcast(mean_k)).select(
        F.col("na").alias("n_arm_a"),
        F.col("nb").alias("n_arm_b"),
        F.round("w1", 6).alias("wasserstein_1"),
        F.round(F.col("w1") / F.col("mk"), 6).alias("w1_over_mean"),
    )


@register(
    "q_mg1_queue_wait",
    oracle="""
    WITH gaps AS (
      SELECT CAST(date_diff('second', LAG(ts) OVER (ORDER BY ts, event_id),
                            ts) AS BIGINT) AS g
      FROM events
    ),
    arr AS (
      SELECT CAST(COUNT(*) AS DOUBLE) / CAST(SUM(g) AS DOUBLE) AS lam
      FROM gaps WHERE g IS NOT NULL
    ),
    svc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS es,
             CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS es2
      FROM events
    )
    SELECT round(arr.lam * 3600, 4) AS arrivals_per_hour,
           round(svc.es, 4) AS mean_service_s,
           round(arr.lam * svc.es, 6) AS utilization_rho,
           round(CASE WHEN arr.lam * svc.es < 1.0
                 THEN arr.lam * svc.es2 / (2 * (1.0 - arr.lam * svc.es))
                 END, 4) AS pk_mean_wait_s,
           round(CASE WHEN arr.lam * svc.es < 1.0
                 THEN arr.lam * svc.es2 / (2 * (1.0 - arr.lam * svc.es))
                      + svc.es END, 4) AS mean_sojourn_s,
           round(svc.es2 / (svc.es * svc.es), 4) AS service_scv_plus1
    FROM arr, svc
    """,
)
def q_mg1_queue_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pollaczek–Khinchine M/G/1 queue analysis of the event stream:
    arrival rate λ from inter-arrival gaps, service moments E[S], E[S²]
    from the value column (as service seconds), utilization ρ = λE[S],
    and the PK mean wait W_q = λE[S²]/(2(1−ρ)) — the general-service
    queueing formula whose E[S²] term is exactly why variance hurts
    latency twice as hard as mean (pairs with q_littles_law, which this
    must satisfy, and q_interarrival_exponential_ks, which validates the
    M in M/G/1).

    Determinism: all moments are exact decimal/integer sums; PK is
    fixed-shape double algebra with a ρ<1 guard on both engines.

    Scale: one ordered-lag pass + one moment pass → 1 row. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    # λ without the global lag window: det.telescoped_lambda (r6 pass
    # 13a; hoisted r7). r7 also merges the arrival and service moments
    # into ONE aggregate pass — one events scan instead of two, no
    # cross join, identical values (independent aggregates of the same
    # rows).
    s = ev.agg(
        telescoped_lambda(),
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("es"),
        (
            F.sum((F.col("value") * F.col("value")).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("es2"),
    )
    rho = F.col("lam") * F.col("es")
    wq = F.when(
        rho < 1.0, F.col("lam") * F.col("es2") / (2 * (1.0 - rho))
    )
    return s.select(
        F.round(F.col("lam") * 3600, 4).alias("arrivals_per_hour"),
        F.round("es", 4).alias("mean_service_s"),
        F.round(rho, 6).alias("utilization_rho"),
        F.round(wq, 4).alias("pk_mean_wait_s"),
        F.round(wq + F.col("es"), 4).alias("mean_sojourn_s"),
        F.round(F.col("es2") / (F.col("es") * F.col("es")), 4).alias(
            "service_scv_plus1"
        ),
    )
