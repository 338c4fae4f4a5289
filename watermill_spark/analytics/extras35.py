"""Analytics batch 43: portable probabilistic sketches — a Bloom-filter
membership audit and a from-scratch HyperLogLog — plus deterministic
hash-split A/B assignment and exponential time-decay engagement scoring.

All four use the md5-as-portable-RNG idiom from q_cms_heavy_hitters /
q_stratified_sample: hex digits → integers via instr('0123…f', d)−1, so
Spark and DuckDB derive identical buckets/registers with no shared RNG and
no engine-specific hash. Decay weights are exact powers of two
(1.0 / (1<<k)) — no transcendental functions anywhere in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .registry import load, register

_BLOOM_M = 4096  # bits
_BLOOM_K = 3  # hash functions (seeds)


def _sql_bloom_pos(key: str, seed: str) -> str:
    """md5-derived bit position in [0, 4096): three hex digits."""
    h = f"md5(CAST({seed} AS VARCHAR) || ':' || CAST({key} AS VARCHAR))"
    return (
        f"({sql_hexval(f'substr({h}, 1, 1)')} * 256"
        f" + {sql_hexval(f'substr({h}, 2, 1)')} * 16"
        f" + {sql_hexval(f'substr({h}, 3, 1)')})"
    )


def _bloom_pos(key: F.Column, seed: F.Column) -> F.Column:
    h = F.md5(F.concat(seed.cast("string"), F.lit(":"), key.cast("string")))
    return (
        hexval(F.substring(h, 1, 1)) * 256
        + hexval(F.substring(h, 2, 1)) * 16
        + hexval(F.substring(h, 3, 1))
    )


@register(
    "q_bloom_filter_audit",
    oracle=f"""
    WITH seeds AS (SELECT unnest([0, 1, 2]) AS s),
    members AS (
      SELECT c_custkey AS k FROM customer WHERE c_nationkey < 5
    ),
    bits AS (
      SELECT DISTINCT {_sql_bloom_pos('k', 's')} AS pos
      FROM members CROSS JOIN seeds
    ),
    probe AS (
      SELECT c.c_custkey AS k,
             MAX(CASE WHEN c.c_nationkey < 5 THEN 1 ELSE 0 END) AS is_member,
             CAST(COUNT(bits.pos) AS BIGINT) AS hits
      FROM customer c
      CROSS JOIN seeds
      LEFT JOIN bits ON bits.pos = {_sql_bloom_pos('c.c_custkey', 'seeds.s')}
      GROUP BY c.c_custkey
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
             CAST(COUNT(*) AS BIGINT) AS n_tested,
             CAST(COUNT(*) FILTER (WHERE hits = {_BLOOM_K}) AS BIGINT)
               AS n_positive,
             CAST(COUNT(*) FILTER (WHERE hits = {_BLOOM_K} AND is_member = 0)
                  AS BIGINT) AS false_positives,
             CAST(COUNT(*) FILTER (WHERE is_member = 0) AS BIGINT)
               AS n_non_members
      FROM probe
    )
    SELECT n_members, bits_set, n_tested, n_positive, false_positives,
           round(CAST(false_positives AS DOUBLE)
                 / CAST(n_non_members AS DOUBLE), 6) AS fp_rate,
           round((CAST(bits_set AS DOUBLE) / {_BLOOM_M}.0)
                 * (CAST(bits_set AS DOUBLE) / {_BLOOM_M}.0)
                 * (CAST(bits_set AS DOUBLE) / {_BLOOM_M}.0), 6)
             AS fp_rate_theoretical
    FROM agg
    """,
)
def q_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit: build a 4096-bit, 3-hash Bloom filter
    over the customers of nations 0–4, probe every customer, and compare the
    observed false-positive rate to the (bits_set/m)^k theoretical one — the
    sketch a 100 TB join prunes with before touching the big side
    (broadcast a few KB of bits instead of the member list).

    The md5 hash family makes filter contents bit-identical across engines
    and cluster layouts; membership and FP counts are all-integer; the two
    rates are fixed-shape double divisions.

    Scale: filter build is one distinct over |members|·k rows; the probe is
    a broadcast join of the (≤m)-row bit set. §2.B [NS].
    """
    cust = load(spark, sf_dir, "customer")
    seeds = spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("s"))
    members = cust.filter(F.col("c_nationkey") < 5).select(
        F.col("c_custkey").alias("k")
    )
    # checkpointed once (r6): the bit set, the member count, and the set
    # size each re-derived their inputs from the fact (4 customer scans
    # in the plan); the member slice and the ≤m-bit position set each
    # materialize once, leaving the probe pass as the one other scan
    members = members.localCheckpoint(eager=True)
    bits = (
        members.crossJoin(F.broadcast(seeds))
        .select(_bloom_pos(F.col("k"), F.col("s")).alias("pos"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    probe = (
        cust.crossJoin(F.broadcast(seeds))
        .withColumn("pos", _bloom_pos(F.col("c_custkey"), F.col("s")))
        .join(F.broadcast(bits.withColumnRenamed("pos", "hit_pos")),
              F.col("pos") == F.col("hit_pos"), "left")
        .groupBy("c_custkey")
        .agg(
            F.max(F.when(F.col("c_nationkey") < 5, 1).otherwise(0)).alias(
                "is_member"
            ),
            F.count("hit_pos").cast("bigint").alias("hits"),
        )
    )
    n_members = members.agg(bcount("n_members"))
    bits_set = bits.agg(bcount("bits_set"))
    agg = probe.agg(
        bcount("n_tested"),
        F.count_if(F.col("hits") == _BLOOM_K).cast("bigint").alias("n_positive"),
        F.count_if((F.col("hits") == _BLOOM_K) & (F.col("is_member") == 0))
        .cast("bigint")
        .alias("false_positives"),
        F.count_if(F.col("is_member") == 0).cast("bigint").alias("n_non_members"),
    )
    load_ratio = F.col("bits_set").cast("double") / F.lit(float(_BLOOM_M))
    return (
        agg.crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(bits_set))
        .select(
            "n_members",
            "bits_set",
            "n_tested",
            "n_positive",
            "false_positives",
            F.round(
                F.col("false_positives").cast("double")
                / F.col("n_non_members").cast("double"),
                6,
            ).alias("fp_rate"),
            F.round(load_ratio * load_ratio * load_ratio, 6).alias(
                "fp_rate_theoretical"
            ),
        )
    )


_HLL_M = 256  # registers (2 hex digits)


@register(
    "q_hll_manual",
    oracle=f"""
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events
    ),
    reg AS (
      SELECT event_type,
             {sql_hexval("substr(hx, 1, 1)")} * 16
               + {sql_hexval("substr(hx, 2, 1)")} AS bucket,
             LEAST(
               length(regexp_extract(substr(hx, 3, 30), '^0*')) * 4
               + 4 - length(bin({sql_hexval("substr(hx, 3 + length(regexp_extract(substr(hx, 3, 30), '^0*')), 1)")}))
               + 1, 40) AS rho
      FROM h
    ),
    mx AS (
      SELECT event_type, bucket, CAST(MAX(rho) AS BIGINT) AS m_j
      FROM reg GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_nonempty,
             CAST(SUM(CAST(1.0 / CAST(CAST(1 AS BIGINT) << m_j AS DOUBLE)
                           AS DECIMAL(20,18))) AS DOUBLE) AS z_present
      FROM mx GROUP BY 1
    ),
    truth AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT s.event_type, truth.exact_users,
           round((0.7213 / (1 + 1.079 / {_HLL_M}.0)) * {_HLL_M}.0 * {_HLL_M}.0
                 / (z_present + ({_HLL_M} - n_nonempty)), 1) AS hll_estimate,
           round(((0.7213 / (1 + 1.079 / {_HLL_M}.0)) * {_HLL_M}.0 * {_HLL_M}.0
                  / (z_present + ({_HLL_M} - n_nonempty))
                  - CAST(exact_users AS DOUBLE))
                 / CAST(exact_users AS DOUBLE) * 100, 2) AS rel_error_pct
    FROM s JOIN truth ON truth.event_type = s.event_type
    """,
)
def q_hll_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog from scratch (m=256 registers, md5-derived): per event
    type, estimate distinct users from max leading-zero runs and compare to
    the exact count — the sketch behind `approx_count_distinct`, built
    portably so both engines compute the *same* registers (unlike
    approx_count_distinct, whose engine-specific hash can't be oracled).

    Registers come from hex-digit arithmetic (bucket = first 2 digits, rho
    = leading-zero bits of the rest + 1, capped); the harmonic-mean
    denominator sums exact powers of two through DECIMAL; empty registers
    contribute 2⁰ = 1 via (m − n_nonempty).

    Scale: the register table is |types|×256 after one map-side-combined
    max-groupBy — the whole point of HLL is that this never grows. §2.B
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    hx = F.md5(F.col("user_id").cast("string"))
    rest = F.substring(hx, 3, 30)
    zeros = F.length(F.regexp_extract(rest, "^0*", 0))
    # first non-zero hex digit needs a column start position → SQL substr
    # single scan (r6): the register maxima and the exact distinct-user
    # truth each re-scanned events; both derive exactly from ONE deduped
    # (type, user) grid, checkpointed once (posting-list class) — bucket
    # and rho are pure functions of user_id, and max over the deduped
    # set equals max over the multiset
    du = ev.select("event_type", "user_id").distinct().localCheckpoint(
        eager=True
    )
    reg = du.select(
        "event_type",
        "user_id",
        (
            hexval(F.substring(hx, 1, 1)) * 16 + hexval(F.substring(hx, 2, 1))
        ).alias("bucket"),
        F.least(
            zeros * 4
            + 4
            - F.length(
                F.bin(
                    hexval(F.expr("substr(substr(md5(CAST(user_id AS STRING)), 3, 30), length(regexp_extract(substr(md5(CAST(user_id AS STRING)), 3, 30), '^0*', 0)) + 1, 1)"))
                )
            )
            + 1,
            F.lit(40),
        ).alias("rho"),
    )
    mx = reg.groupBy("event_type", "bucket").agg(
        F.max("rho").cast("bigint").alias("m_j")
    )
    s = mx.groupBy("event_type").agg(
        bcount("n_nonempty"),
        F.sum(
            (
                F.lit(1.0)
                / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(m_j AS INT))").cast(
                    "double"
                )
            ).cast("decimal(20,18)")
        )
        .cast("double")
        .alias("z_present"),
    )
    truth = reg.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    alpha = 0.7213 / (1 + 1.079 / float(_HLL_M))
    est = (
        F.lit(alpha)
        * F.lit(float(_HLL_M))
        * F.lit(float(_HLL_M))
        / (F.col("z_present") + (F.lit(_HLL_M) - F.col("n_nonempty")))
    )
    return s.join(F.broadcast(truth), "event_type").select(
        "event_type",
        "exact_users",
        F.round(est, 1).alias("hll_estimate"),
        F.round(
            (est - F.col("exact_users").cast("double"))
            / F.col("exact_users").cast("double")
            * 100,
            2,
        ).alias("rel_error_pct"),
    )


@register(
    "q_ab_hash_split",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN {sql_hexval("substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 1)")} % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT arm,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE e.event_type = 'purchase') AS BIGINT)
             AS purchases,
           round(CAST(COUNT(*) FILTER (WHERE e.event_type = 'purchase')
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS purchase_share
    FROM events e JOIN assign USING (user_id)
    GROUP BY arm
    """,
)
def q_ab_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B assignment audit: users are split into two arms by
    a salted md5 parity (the standard sticky bucketing — same user, same
    arm, on any engine, any day), then per-arm exposure and purchase share
    are compared — the balance check run before trusting an experiment
    readout.

    Scale: assignment is a map-side expression (no assignment table to
    join at 100 TB — the hash IS the table); one user-keyed join +
    groupBy. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm_hash = hexval(
        F.substring(F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))), 1, 1)
    )
    assign = ev.select("user_id").distinct().select(
        "user_id",
        F.when(arm_hash % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias("arm"),
    )
    return (
        ev.join(assign, "user_id")
        .groupBy("arm")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            bcount("n_events"),
            F.count_if(F.col("event_type") == "purchase")
            .cast("bigint")
            .alias("purchases"),
            F.round(
                F.count_if(F.col("event_type") == "purchase").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("purchase_share"),
        )
    )


@register(
    "q_time_decay_score",
    oracle="""
    WITH anchor AS (
      SELECT CAST(MAX(ts) AS DATE) AS d0 FROM events
    ),
    w AS (
      SELECT user_id, value,
             LEAST(date_diff('day', CAST(ts AS DATE), d0) // 7, 50) AS wks
      FROM events, anchor
      WHERE value IS NOT NULL
    ),
    sc AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value / CAST(CAST(1 AS BIGINT) << wks AS DOUBLE)
                           AS DECIMAL(28,20))) AS DOUBLE) AS score
      FROM w GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_events,
           round(score, 6) AS decay_score
    FROM sc
    ORDER BY score DESC, user_id
    LIMIT 20
    """,
)
def q_time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay engagement score (half-life = 1 week): each
    event contributes value · 2^(−age_weeks), top-20 users — the recency
    weighting behind lead scoring and retention targeting.

    Weights are *exact powers of two* (1.0 / (1 << weeks), integer shift —
    no pow/exp libm anywhere), so per-event contributions are bit-identical
    across engines; the per-user sum routes through DECIMAL(28,20). Ages
    cap at 50 weeks (weight < 1e-15 — below the decimal quantum anyway),
    keeping the shift in BIGINT range on any horizon.

    Scale: one map-side expression + one user groupBy; top-20 is
    TakeOrderedAndProject (per-partition local top-k). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    anchor = ev.agg(F.max("ts").cast("date").alias("d0"))
    w = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "value",
        F.least(
            F.floor(F.datediff(F.col("d0"), F.col("ts").cast("date")) / 7),
            F.lit(50),
        )
        .cast("int")
        .alias("wks"),
    )
    sc = w.groupBy("user_id").agg(
        bcount("n_events"),
        F.sum(
            (
                F.col("value")
                / F.expr("shiftleft(CAST(1 AS BIGINT), wks)").cast("double")
            ).cast("decimal(28,20)")
        )
        .cast("double")
        .alias("score"),
    )
    return (
        sc.orderBy(F.desc("score"), "user_id")
        .limit(20)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_events",
            F.round("score", 6).alias("decay_score"),
        )
    )
