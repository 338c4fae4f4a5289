"""Analytics batch 105: Theil inequality decomposition, EOQ/safety-stock
inventory policy, and M/M/c Erlang-C wait probability.

The Theil T index is the only common inequality measure that decomposes
*exactly* into within-group + between-group parts, which is why
economists use it to answer "is spend inequality driven by rich vs poor
nations, or rich vs poor customers inside each nation?". The EOQ batch
is the classic Harris/Wilson inventory policy — economic order
quantity, safety stock at a 95% cycle service level, and the reorder
point — computed per brand from observed daily demand. Erlang-C extends
batch-86's Erlang-B loss model to the waiting system: the probability
an arrival queues, and its expected wait, across a grid of server
counts (the "how many workers until p95 wait is acceptable" question).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register


@register(
    "q_theil_index",
    oracle="""
    WITH pos AS (
      SELECT c.c_acctbal AS x, n.n_name AS grp
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE c.c_acctbal > 0
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s
      FROM pos
    ),
    gm AS (SELECT n, s, s / n AS mu FROM tot),
    terms AS (
      SELECT CAST(SUM(CAST((p.x / g.mu) * ln(p.x / g.mu)
                           AS DECIMAL(38,15))) AS DOUBLE) AS tsum,
             MAX(g.n) AS n, MAX(g.mu) AS mu
      FROM pos p, gm g
    ),
    bygrp AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sg
      FROM pos GROUP BY grp
    ),
    btw AS (
      SELECT CAST(SUM(CAST(
               (CAST(b.ng AS DOUBLE) / g.n) * ((b.sg / b.ng) / g.mu)
               * ln((b.sg / b.ng) / g.mu) AS DECIMAL(38,15)))
             AS DOUBLE) AS tb
      FROM bygrp b, gm g
    )
    SELECT t.n AS n_customers,
           round(t.mu, 6) AS mean_balance,
           round(t.tsum / t.n, 6) AS theil_total,
           round(b.tb, 6) AS theil_between,
           round(t.tsum / t.n - b.tb, 6) AS theil_within,
           round(b.tb / (t.tsum / t.n), 6) AS between_share
    FROM terms t, btw b
    """,
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of positive customer balances, exactly
    decomposed into between-nation and within-nation components:
    T = (1/N) Σ (x/μ)ln(x/μ); T_between = Σ_g (N_g/N)(μ_g/μ)ln(μ_g/μ);
    T_within = T − T_between (the decomposition is an identity, so the
    within term is computed by exact subtraction rather than a third
    scan). between_share answers "what fraction of balance inequality
    is cross-country".

    Determinism: global and per-nation sums ride DECIMAL(18,6); each
    (x/μ)ln(x/μ) term is a pure double expression cast to
    DECIMAL(38,15) before summing, so partial-agg order can't matter.

    Scale: two fact scans (moment pass, term pass with the 1-row μ
    broadcast — whitelisted BNLJ) + one ≤|nations| rollup; all
    aggregations map-side combine. §2.B [NS].
    """
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(F.col("c_acctbal").alias("x"), F.col("n_name").alias("grp"))
    )
    # r6: glob/terms/bygrp each re-scanned the fact (4 customer scans in
    # the plan). The group pass now keeps its DECIMAL sums and is
    # checkpointed; the global moments derive from those exact per-group
    # sums (decimal addition is associative, so SUM of group sums casts
    # to the identical double as the one-pass global sum), leaving the
    # term pass as the only other fact scan: 4 scans → 2, the minimum
    # while the oracle pins the per-row (x/μ)ln(x/μ) float shape.
    bygrp = pos.groupBy("grp").agg(
        bcount("ng"), F.sum(dec("x")).alias("sgd")
    ).localCheckpoint(eager=True)
    glob = bygrp.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sgd").cast("double").alias("s"),
    ).select("n", "s", (F.col("s") / F.col("n")).alias("mu"))

    ratio = F.col("x") / F.col("mu")
    terms = (
        pos.crossJoin(F.broadcast(glob))
        .agg(
            F.sum((ratio * F.log(ratio)).cast(D15)).cast("double").alias("tsum"),
            F.max("n").alias("n"),
            F.max("mu").alias("mu"),
        )
    )
    bygrp = bygrp.select("grp", "ng", F.col("sgd").cast("double").alias("sg"))
    mug = F.col("sg") / F.col("ng")
    btw = (
        bygrp.crossJoin(F.broadcast(glob))
        .agg(
            F.sum(
                (
                    (F.col("ng").cast("double") / F.col("n"))
                    * (mug / F.col("mu"))
                    * F.log(mug / F.col("mu"))
                ).cast(D15)
            )
            .cast("double")
            .alias("tb")
        )
    )
    t_total = F.col("tsum") / F.col("n")
    return terms.crossJoin(F.broadcast(btw)).select(
        F.col("n").alias("n_customers"),
        F.round("mu", 6).alias("mean_balance"),
        F.round(t_total, 6).alias("theil_total"),
        F.round("tb", 6).alias("theil_between"),
        F.round(t_total - F.col("tb"), 6).alias("theil_within"),
        F.round(F.col("tb") / t_total, 6).alias("between_share"),
    )


@register(
    "q_eoq_policy",
    oracle="""
    WITH daily AS (
      SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS d,
             SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(date_diff('day', MIN(CAST(l_shipdate AS DATE)),
                            MAX(CAST(l_shipdate AS DATE))) + 1 AS BIGINT)
               AS span_days
      FROM lineitem
    ),
    price AS (
      SELECT p_brand AS brand,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS unit_price
      FROM part GROUP BY 1
    ),
    stats AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(q) AS DOUBLE) AS total_qty,
             CAST(SUM(CAST(q * q AS DECIMAL(38,12))) AS DOUBLE) AS sqq
      FROM daily GROUP BY brand
    )
    SELECT s.brand,
           s.n_days,
           round(s.total_qty / sp.span_days * 365.0, 4) AS annual_demand,
           round(s.total_qty / s.n_days, 6) AS mean_daily,
           round(sqrt((s.n_days * s.sqq - s.total_qty * s.total_qty)
                      / (CAST(s.n_days AS DOUBLE) * (s.n_days - 1))), 6)
             AS std_daily,
           round(sqrt(2.0 * (s.total_qty / sp.span_days * 365.0) * 100.0
                      / (0.2 * pr.unit_price)), 4) AS eoq_units,
           round(1.645 * sqrt((s.n_days * s.sqq - s.total_qty * s.total_qty)
                              / (CAST(s.n_days AS DOUBLE) * (s.n_days - 1)))
                 * sqrt(7.0), 4) AS safety_stock,
           round(s.total_qty / s.n_days * 7.0
                 + 1.645 * sqrt((s.n_days * s.sqq - s.total_qty * s.total_qty)
                                / (CAST(s.n_days AS DOUBLE) * (s.n_days - 1)))
                   * sqrt(7.0), 4) AS reorder_point
    FROM stats s, span sp, price pr
    WHERE pr.brand = s.brand
    ORDER BY s.brand
    """,
)
def q_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand inventory policy from observed daily demand: economic
    order quantity EOQ = sqrt(2·D·S/H) with annualized demand D, a fixed
    order cost S=$100 and holding cost H = 20% of the brand's mean
    retail price; safety stock = z₀.₉₅·σ_daily·sqrt(L) for a 7-day lead
    time; reorder point = μ_daily·L + safety stock. σ_daily is the
    sample std over days *with demand* (demand days, not calendar days —
    documented choice shared by both engines).

    Determinism: daily quantities are exact DECIMAL(18,6) sums; their
    squares ride DECIMAL(38,12) (18,6² fits exactly), so the variance is
    a pure double expression of three exact sums; sqrt is IEEE
    correctly-rounded on both engines.

    Scale: one (brand, day) shuffle → one |brands| rollup; part side
    broadcasts; span is a 1-row broadcast (whitelisted BNLJ). §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    daily = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").cast("date").alias("d"),
        )
        .agg(F.sum(dec("l_quantity")).alias("q"))
    )
    span = li.agg(
        (
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")),
                F.min(F.col("l_shipdate").cast("date")),
            )
            + 1
        )
        .cast("bigint")
        .alias("span_days")
    )
    price = part.groupBy(F.col("p_brand").alias("brand")).agg(
        (F.sum(dec("p_retailprice")).cast("double") / F.count(F.lit(1))).alias(
            "unit_price"
        )
    )
    stats = daily.groupBy("brand").agg(
        bcount("n_days"),
        F.sum("q").cast("double").alias("total_qty"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sqq"),
    )
    nd = F.col("n_days")
    var = (nd * F.col("sqq") - F.col("total_qty") * F.col("total_qty")) / (
        nd.cast("double") * (nd - 1)
    )
    std = F.sqrt(var)
    annual = F.col("total_qty") / F.col("span_days") * F.lit(365.0)
    mean_daily = F.col("total_qty") / nd
    ss = F.lit(1.645) * std * F.sqrt(F.lit(7.0))
    return (
        stats.crossJoin(F.broadcast(span))
        .join(F.broadcast(price), "brand")
        .select(
            "brand",
            "n_days",
            F.round(annual, 4).alias("annual_demand"),
            F.round(mean_daily, 6).alias("mean_daily"),
            F.round(std, 6).alias("std_daily"),
            F.round(
                F.sqrt(F.lit(2.0) * annual * F.lit(100.0) / (F.lit(0.2) * F.col("unit_price"))),
                4,
            ).alias("eoq_units"),
            F.round(ss, 4).alias("safety_stock"),
            F.round(mean_daily * F.lit(7.0) + ss, 4).alias("reorder_point"),
        )
        .orderBy("brand")
    )


_ERLC_GRID = (1, 2, 4, 8)
_ERLC_MAX = max(_ERLC_GRID)


@register(
    "q_erlang_c_wait",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE)
               / (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) * 1000000.0
               AS lam,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS es
      FROM events
    ),
    la AS (SELECT lam, es, lam * es AS a FROM m),
    chain AS (
      SELECT a, a * 1.0 / (1 + a * 1.0) AS e1 FROM la
    ),
    chain2 AS (SELECT a, e1, a * e1 / (2 + a * e1) AS e2 FROM chain),
    chain3 AS (SELECT a, e1, e2, a * e2 / (3 + a * e2) AS e3 FROM chain2),
    chain4 AS (SELECT a, e1, e2, e3, a * e3 / (4 + a * e3) AS e4 FROM chain3),
    chain5 AS (SELECT a, e1, e2, e3, e4,
                      a * e4 / (5 + a * e4) AS e5 FROM chain4),
    chain6 AS (SELECT a, e1, e2, e3, e4, e5,
                      a * e5 / (6 + a * e5) AS e6 FROM chain5),
    chain7 AS (SELECT a, e1, e2, e3, e4, e5, e6,
                      a * e6 / (7 + a * e6) AS e7 FROM chain6),
    chain8 AS (SELECT a, e1, e2, e3, e4, e5, e6, e7,
                      a * e7 / (8 + a * e7) AS e8 FROM chain7),
    grid AS (
      SELECT g.c, ch.a,
             CASE g.c WHEN 1 THEN ch.e1 WHEN 2 THEN ch.e2
                      WHEN 4 THEN ch.e4 WHEN 8 THEN ch.e8 END AS b,
             la.es
      FROM chain8 ch, la, (VALUES (1), (2), (4), (8)) AS g(c)
    )
    SELECT CAST(c AS BIGINT) AS channels,
           round(a, 6) AS offered_load_erlangs,
           round(a / c, 6) AS utilization,
           CASE WHEN a < c
                THEN round(b / (1.0 - (a / c) * (1.0 - b)), 8) END
             AS wait_probability,
           CASE WHEN a < c
                THEN round(b / (1.0 - (a / c) * (1.0 - b)) * es / (c - a), 6)
           END AS expected_wait_sec,
           CASE WHEN a >= c THEN 'unstable'
                WHEN b / (1.0 - (a / c) * (1.0 - b)) < 0.2
                THEN 'meets_wait_sla' ELSE 'queueing' END AS verdict
    FROM grid
    ORDER BY channels
    """,
)
def q_erlang_c_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M/M/c Erlang-C queueing analysis of the event stream across a
    server-count grid c ∈ {1,2,4,8}: arrival rate λ = events/sec over
    the observed span, mean service time E[S] = mean(value) seconds,
    offered load a = λ·E[S]. Erlang-C wait probability
    C = B/(1 − ρ(1−B)) from the Erlang-B recursion B_k = aB/(k+aB);
    expected wait W_q = C·E[S]/(c − a). Rows with ρ ≥ 1 report
    'unstable' with NULL waits — the capacity-planning cut line.
    Complements q_erlang_blocking (loss system) and q_mg1_queue_wait
    (single server).

    Determinism: a comes from exact moment sums over integer micros and
    DECIMAL value sums; the 8-step recursion is a fixed chained
    expression evaluated identically by both engines (no re-association
    possible on a 1-row relation).

    Scale: one moment pass over the fact, then all queueing math on a
    1-row relation exploded to 4 grid rows (whitelisted BNLJ). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    m = ev.agg(
        (
            F.count(F.lit(1)).cast("double")
            / (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            * F.lit(1000000.0)
        ).alias("lam"),
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("es"),
    )
    la = m.select("lam", "es", (F.col("lam") * F.col("es")).alias("a"))
    chain = la.withColumn("e0", F.lit(1.0))
    for k in range(1, _ERLC_MAX + 1):
        prev = F.col(f"e{k - 1}")
        chain = chain.withColumn(
            f"e{k}", F.col("a") * prev / (F.lit(float(k)) + F.col("a") * prev)
        )
    grid = chain.select(
        F.explode(F.array(*[F.lit(c) for c in _ERLC_GRID])).alias("c"),
        "a",
        "es",
        *[f"e{c}" for c in _ERLC_GRID],
    ).select(
        "c",
        "a",
        "es",
        F.when(F.col("c") == 1, F.col("e1"))
        .when(F.col("c") == 2, F.col("e2"))
        .when(F.col("c") == 4, F.col("e4"))
        .when(F.col("c") == 8, F.col("e8"))
        .alias("b"),
    )
    rho = F.col("a") / F.col("c")
    cwait = F.col("b") / (F.lit(1.0) - rho * (F.lit(1.0) - F.col("b")))
    stable = F.col("a") < F.col("c")
    return grid.select(
        F.col("c").cast("bigint").alias("channels"),
        F.round("a", 6).alias("offered_load_erlangs"),
        F.round(rho, 6).alias("utilization"),
        F.when(stable, F.round(cwait, 8)).alias("wait_probability"),
        F.when(
            stable,
            F.round(cwait * F.col("es") / (F.col("c") - F.col("a")), 6),
        ).alias("expected_wait_sec"),
        F.when(~stable, F.lit("unstable"))
        .when(cwait < 0.2, F.lit("meets_wait_sla"))
        .otherwise(F.lit("queueing"))
        .alias("verdict"),
    ).orderBy("channels")
