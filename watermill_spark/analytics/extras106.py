"""Analytics batch 114: Cox proportional hazards (Newton on the partial
likelihood), eigenvector centrality by power iteration, and the DFA
(detrended fluctuation analysis) long-memory exponent.

Cox PH is the regression face of the survival family already here
(q_kaplan_meier_retention / q_nelson_aalen / q_rmst / q_logrank_test):
"does activity level change the hazard of churning?", answered without
choosing a baseline hazard. Eigenvector centrality completes the node-
importance set (degree → harmonic → PageRank → HITS) with the classic
"you matter if important nations trade with you" fixpoint. DFA is the
standard robust estimator of long-range dependence (Hurst-like α) that
survives nonstationarity, complementing q_hurst_rs.

Iterative state follows the chained-CTE/Python-loop twin pattern of
extras53 (Markov absorption) and extras100 (Poisson GLM): fixed
iteration counts, every accumulation DECIMAL(38,15)-cast per term, so
both engines walk the identical float path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register

_US_PER_DAY = 86400000000
_CENSOR_GAP_DAYS = 14
_COX_STEPS = 4
_EIG_ROUNDS = 12
_DFA_SCALES = (4, 8, 16, 32)


def _cox_step_sql(k: int, prev: str) -> str:
    """One Newton step on the Breslow partial likelihood."""
    return f"""
    g{k} AS MATERIALIZED (
      SELECT u.t,
             CAST(SUM(CAST(exp(b.b * u.x) AS DECIMAL(38,15)))
                  AS DECIMAL(38,15)) AS e0,
             CAST(SUM(CAST(u.x * exp(b.b * u.x) AS DECIMAL(38,15)))
                  AS DECIMAL(38,15)) AS e1,
             CAST(SUM(CAST(u.x * u.x * exp(b.b * u.x) AS DECIMAL(38,15)))
                  AS DECIMAL(38,15)) AS e2,
             CAST(SUM(u.died) AS BIGINT) AS d,
             CAST(SUM(CAST(CASE WHEN u.died = 1 THEN u.x ELSE 0 END
                           AS DECIMAL(38,15))) AS DOUBLE) AS dx
      FROM users u, {prev} b GROUP BY u.t
    ),
    s{k} AS MATERIALIZED (
      SELECT t, d, dx,
             CAST(SUM(e0) OVER wd AS DOUBLE) AS s0,
             CAST(SUM(e1) OVER wd AS DOUBLE) AS s1,
             CAST(SUM(e2) OVER wd AS DOUBLE) AS s2
      FROM g{k}
      WINDOW wd AS (ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    a{k} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(dx - d * s1 / s0 AS DECIMAL(38,15)))
                  AS DOUBLE) AS u,
             CAST(SUM(CAST(d * (s2 / s0 - (s1 / s0) * (s1 / s0))
                           AS DECIMAL(38,15))) AS DOUBLE) AS i
      FROM s{k} WHERE d > 0
    ),
    n{k} AS MATERIALIZED (SELECT b.b + a.u / a.i AS b FROM {prev} b, a{k} a)"""


_COX_CHAIN = ",".join(
    _cox_step_sql(k, f"n{k - 1}" if k > 1 else "b0") for k in range(1, _COX_STEPS + 1)
)
_COX_FINAL = _cox_step_sql(_COX_STEPS + 1, f"n{_COX_STEPS}")


@register(
    "q_cox_ph_newton",
    oracle=f"""
    WITH users AS MATERIALIZED (
      SELECT user_id,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NOT NULL THEN 1 ELSE 0 END AS died,
             COALESCE(
               (epoch_us(MIN(CASE WHEN event_type = 'purchase' THEN ts END))
                - epoch_us(MIN(ts))) // 3600000000,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000) AS t,
             ln(1.0 + COUNT(*)) AS x
      FROM events GROUP BY user_id
    ),
    b0 AS (SELECT CAST(0.0 AS DOUBLE) AS b),
    {_COX_CHAIN},
    {_COX_FINAL}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM users) AS n_users,
           (SELECT CAST(SUM(died) AS BIGINT) FROM users) AS n_deaths,
           round(b.b, 6) AS beta,
           round(exp(b.b), 6) AS hazard_ratio,
           round(1.0 / sqrt(a.i), 6) AS se_beta,
           round(b.b * sqrt(a.i), 6) AS z_score
    FROM n{_COX_STEPS} b, a{_COX_STEPS + 1} a
    """,
)
def q_cox_ph_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression of the hazard of *converting*
    (first purchase): survival time = integer hours from a user's first
    event to their first purchase (censored at the last event for
    never-purchasers), covariate x = ln(1 + event count).
    4 Newton steps on the Breslow partial likelihood — per distinct
    lifetime day the risk-set sums S₀,S₁,S₂ = Σ_{{t_j ≥ t}} xʲ·e^{{βx}}
    come from ONE reverse-cumulative window over the per-day rollup;
    score U = Σ_deaths (x − S₁/S₀), information I = Σ d(S₂/S₀ −
    (S₁/S₀)²), β ← β + U/I. Reports β, the hazard ratio e^β, the
    model SE 1/√I and the Wald z — "each e-fold of activity multiplies
    the churn hazard by HR".

    Determinism: every per-term accumulation (exp terms, score,
    information) is DECIMAL(38,15)-cast before summing; risk-set windows
    are explicit ROWS frames over distinct integer days; iteration count
    fixed, so both engines trace identical float paths (≤1-ulp libm exp
    noise absorbed by 6dp rounding).

    Scale: each step is one map-side-combined rollup of the |users|
    feature table to ≤|days| rows plus a single-partition window over
    that bounded grid — iteration cost is 4×(one aggregation), never a
    per-user driver loop. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    first_pur = F.unix_micros(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    )
    users = ev.groupBy("user_id").agg(
        first_pur.alias("pur_us"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
        bcount("cnt"),
    ).select(
        F.when(F.col("pur_us").isNotNull(), 1).otherwise(0).alias("died"),
        F.floor(
            (
                F.coalesce(F.col("pur_us"), F.col("last_us"))
                - F.col("first_us")
            )
            / F.lit(3600000000)
        )
        .cast("bigint")
        .alias("t"),
        F.log(F.lit(1.0) + F.col("cnt").cast("double")).alias("x"),
    )
    # checkpointed once (r6): every Newton step (and the final counts)
    # re-derived the per-user rollup from events; the user-domain grid
    # materializes once and the iterations read it
    users = users.localCheckpoint(eager=True)
    beta = spark.range(1).select(F.lit(0.0).alias("b"))
    wd = Window.orderBy(F.col("t").desc()).rowsBetween(Window.unboundedPreceding, 0)

    def step(bdf):
        ex = F.exp(F.col("b") * F.col("x"))
        g = (
            users.crossJoin(F.broadcast(bdf))
            .groupBy("t")
            .agg(
                F.sum(ex.cast(D15)).alias("e0"),
                F.sum((F.col("x") * ex).cast(D15)).alias("e1"),
                F.sum((F.col("x") * F.col("x") * ex).cast(D15)).alias("e2"),
                F.sum("died").cast("bigint").alias("d"),
                F.sum(
                    F.when(F.col("died") == 1, F.col("x")).otherwise(0.0).cast(D15)
                )
                .cast("double")
                .alias("dx"),
            )
        )
        s = g.select(
            "t",
            "d",
            "dx",
            F.sum("e0").over(wd).cast("double").alias("s0"),
            F.sum("e1").over(wd).cast("double").alias("s1"),
            F.sum("e2").over(wd).cast("double").alias("s2"),
        )
        r01 = F.col("s1") / F.col("s0")
        return s.filter(F.col("d") > 0).agg(
            F.sum((F.col("dx") - F.col("d") * r01).cast(D15))
            .cast("double")
            .alias("u"),
            F.sum((F.col("d") * (F.col("s2") / F.col("s0") - r01 * r01)).cast(D15))
            .cast("double")
            .alias("i"),
        )

    for _ in range(_COX_STEPS):
        acc = step(beta)
        # 1-row state: eager localCheckpoint truncates the doubling lineage
        # (acc references beta, so the raw plan is exponential in steps)
        beta = (
            beta.crossJoin(F.broadcast(acc))
            .select((F.col("b") + F.col("u") / F.col("i")).alias("b"))
            .localCheckpoint(eager=True)
        )
    final = step(beta)  # information at the converged β for the SE
    counts = users.agg(bcount("n_users"), F.sum("died").cast("bigint").alias("n_deaths"))
    return (
        counts.crossJoin(F.broadcast(beta))
        .crossJoin(F.broadcast(final))
        .select(
            "n_users",
            "n_deaths",
            F.round("b", 6).alias("beta"),
            F.round(F.exp("b"), 6).alias("hazard_ratio"),
            F.round(F.lit(1.0) / F.sqrt("i"), 6).alias("se_beta"),
            F.round(F.col("b") * F.sqrt("i"), 6).alias("z_score"),
        )
    )


_EIG_STEP_SQL = """
      SELECT e.dst AS nk,
             CAST(SUM(CAST(e.w * {prev}.v AS DECIMAL(38,15))) AS DOUBLE) AS raw
      FROM edges e JOIN {prev} ON {prev}.nk = e.src
      GROUP BY e.dst
"""


def _eig_chain() -> str:
    parts = []
    prev = "v0"
    for k in range(1, _EIG_ROUNDS + 1):
        parts.append(
            f"""
    r{k} AS MATERIALIZED ({_EIG_STEP_SQL.format(prev=prev)}),
    v{k} AS MATERIALIZED (
      SELECT nk, raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(38,15)))
                                    AS DOUBLE) FROM r{k}) AS v
      FROM r{k}
    )"""
        )
        prev = f"v{k}"
    return ",".join(parts)


@register(
    "q_eigenvector_centrality",
    oracle=f"""
    WITH edges AS MATERIALIZED (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    v0 AS (
      SELECT DISTINCT dst AS nk,
             1.0 / (SELECT COUNT(DISTINCT dst) FROM edges) AS v
      FROM edges
    ),
    {_eig_chain()}
    SELECT n.n_name AS nation,
           round(v.v, 6) AS centrality,
           CAST(row_number() OVER (ORDER BY round(v.v, 6) DESC, n.n_name)
                AS BIGINT) AS rank
    FROM v{_EIG_ROUNDS} v JOIN nation n ON n.n_nationkey = v.nk
    ORDER BY rank
    """,
)
def q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality of the supplier→customer nation trade graph
    by 12 rounds of L1-normalized power iteration: v ← Aᵀv / ‖Aᵀv‖₁
    with edge weights = trade line counts. The "important if important
    partners buy from you" fixpoint — the undamped sibling of
    q_pagerank_nations (and the centrality HITS splits into hub/authority
    halves).

    Determinism: edge weights are exact integers; every w·v term and the
    L1 normalizer accumulate through DECIMAL(38,15); iteration count
    fixed; final scores rounded to 6dp with a name tiebreak on the rank.

    Scale: the edge list collapses to ≤|nations|² rows in one
    star-join rollup; each round is a grid-sized join-aggregate (a
    broadcast at any scale). §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    edges = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(bcount("w"))
    ).localCheckpoint(eager=True)
    n_nodes = edges.select("dst").distinct().count()
    v = edges.select("dst").distinct().select(
        F.col("dst").alias("nk"), (F.lit(1.0) / F.lit(float(n_nodes))).alias("v")
    )
    for _ in range(_EIG_ROUNDS):
        raw = (
            edges.join(F.broadcast(v), F.col("nk") == F.col("src"))
            .groupBy("dst")
            .agg(
                F.sum((F.col("w") * F.col("v")).cast(D15))
                .cast("double")
                .alias("raw")
            )
        )
        tot = raw.agg(
            F.sum(F.col("raw").cast(D15)).cast("double").alias("tot")
        )
        # ≤|nations| rows of state: checkpoint per round, else the plan
        # tree doubles every iteration (raw is referenced twice) and the
        # 12-round lineage OOMs the planner
        v = (
            raw.crossJoin(F.broadcast(tot))
            .select(
                F.col("dst").alias("nk"), (F.col("raw") / F.col("tot")).alias("v")
            )
            .localCheckpoint(eager=True)
        )
    return (
        v.join(F.broadcast(nation), F.col("n_nationkey") == F.col("nk"))
        .select(
            F.col("n_name").alias("nation"),
            F.round("v", 6).alias("centrality"),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("centrality"), F.asc("nation")))
            .cast("bigint"),
        )
        .orderBy("rank")
    )


@register(
    "q_dfa_exponent",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    m AS (
      SELECT CAST(SUM(CAST(rev AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS mu,
             CAST(COUNT(*) AS BIGINT) AS nd
      FROM daily
    ),
    prof AS (
      SELECT row_number() OVER (ORDER BY d) AS rn,
             CAST(SUM(CAST(rev - m.mu AS DECIMAL(38,15))) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS y
      FROM daily, m
    ),
    boxed AS (
      SELECT s.n, (p.rn - 1) // s.n AS box,
             CAST(p.rn AS DOUBLE) AS xi, p.y
      FROM prof p,
           (SELECT unnest(ARRAY{list(_DFA_SCALES)}) AS n) s
      WHERE (p.rn - 1) // s.n
            < (SELECT nd FROM m) // s.n
    ),
    fit AS (
      SELECT n, box,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(xi AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xi * y AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(xi * xi AS DECIMAL(38,15))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,15))) AS DOUBLE) AS syy
      FROM boxed GROUP BY 1, 2
    ),
    resid AS (
      SELECT n,
             CAST(SUM(CAST(
               syy - sy * sy / k
               - ((k * sxy - sx * sy) / (k * sxx - sx * sx))
                 * ((k * sxy - sx * sy) / (k * sxx - sx * sx))
                 * (sxx - sx * sx / k)
               AS DECIMAL(38,15))) AS DOUBLE) AS ss,
             CAST(SUM(k) AS BIGINT) AS ntot,
             CAST(COUNT(*) AS BIGINT) AS nboxes
      FROM fit GROUP BY 1
    ),
    fvals AS (
      SELECT n, nboxes, sqrt(ss / ntot) AS f FROM resid
    ),
    alpha AS (
      SELECT (COUNT(*) * CAST(SUM(CAST(ln(CAST(n AS DOUBLE)) * ln(f)
                                       AS DECIMAL(38,15))) AS DOUBLE)
              - CAST(SUM(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(38,15)))
                     AS DOUBLE)
                * CAST(SUM(CAST(ln(f) AS DECIMAL(38,15))) AS DOUBLE))
             / (COUNT(*) * CAST(SUM(CAST(ln(CAST(n AS DOUBLE))
                                         * ln(CAST(n AS DOUBLE))
                                         AS DECIMAL(38,15))) AS DOUBLE)
                - CAST(SUM(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(38,15)))
                       AS DOUBLE)
                  * CAST(SUM(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(38,15)))
                         AS DOUBLE)) AS a
      FROM fvals
    )
    SELECT (SELECT nd FROM m) AS n_days,
           round(MAX(CASE WHEN n = 4 THEN f END), 6) AS f_4,
           round(MAX(CASE WHEN n = 8 THEN f END), 6) AS f_8,
           round(MAX(CASE WHEN n = 16 THEN f END), 6) AS f_16,
           round(MAX(CASE WHEN n = 32 THEN f END), 6) AS f_32,
           round(MAX(a.a), 6) AS dfa_alpha
    FROM fvals, alpha a
    """,
)
def q_dfa_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis of daily revenue: integrate the
    mean-centered series into a profile, split it into boxes of size
    n ∈ {{4,8,16,32}} (complete boxes only), remove each box's OLS linear
    trend in closed form, and measure the RMS residual F(n); the DFA
    exponent α is the log-log slope of F(n) vs n (α≈0.5 white noise,
    α>0.5 persistent long memory). The nonstationarity-robust
    complement to q_hurst_rs.

    Determinism: the profile is an exact DECIMAL cumulative sum; per-box
    moments and residual sums-of-squares accumulate as DECIMAL(38,15)
    with closed-form double solves; box ids are integer division.

    Scale: one day rollup to ≤|days| rows; the 4-scale replication is a
    constant-factor explode of that bounded grid; per-box fits are
    map-side-combinable closed forms, no iteration. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(dec("value")).cast("double").alias("rev")
    )
    # checkpointed once (r6): the mean/count aggregate, the profile
    # window, and the final nd re-reference each re-derived the fact
    # rollup (5 events scans in the plan); the calendar-bounded day grid
    # materializes once
    daily = daily.localCheckpoint(eager=True)
    m = daily.agg(
        (F.sum(dec("rev", D15)).cast("double") / F.count(F.lit(1))).alias("mu"),
        bcount("nd"),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    prof = daily.crossJoin(F.broadcast(m)).select(
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        F.sum((F.col("rev") - F.col("mu")).cast(D15))
        .over(wcum)
        .cast("double")
        .alias("y"),
        "nd",
    )
    scales = spark.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in _DFA_SCALES])).alias("n")
    )
    boxed = (
        prof.crossJoin(F.broadcast(scales))
        .filter(
            F.floor((F.col("rn") - 1) / F.col("n"))
            < F.floor(F.col("nd") / F.col("n"))
        )
        .select(
            "n",
            F.floor((F.col("rn") - 1) / F.col("n")).alias("box"),
            F.col("rn").cast("double").alias("xi"),
            "y",
        )
    )
    fit = boxed.groupBy("n", "box").agg(
        bcount("k"),
        F.sum(F.col("xi").cast(D15)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(D15)).cast("double").alias("sy"),
        F.sum((F.col("xi") * F.col("y")).cast(D15)).cast("double").alias("sxy"),
        F.sum((F.col("xi") * F.col("xi")).cast(D15)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(D15)).cast("double").alias("syy"),
    )
    k = F.col("k").cast("double")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ssres = (
        F.col("syy")
        - F.col("sy") * F.col("sy") / k
        - slope * slope * (F.col("sxx") - F.col("sx") * F.col("sx") / k)
    )
    resid = fit.groupBy("n").agg(
        F.sum(ssres.cast(D15)).cast("double").alias("ss"),
        F.sum("k").cast("bigint").alias("ntot"),
        bcount("nboxes"),
    )
    # ≤|scales| rows feeding both the log-log fit and the pivot: cut the
    # boxed-fit lineage so the |days|×|scales| chain runs once, not twice
    fvals = resid.select(
        "n", F.sqrt(F.col("ss") / F.col("ntot")).alias("f")
    ).localCheckpoint(eager=True)
    lnn = F.log(F.col("n").cast("double"))
    cnt = F.count(F.lit(1)).cast("double")
    alpha = fvals.agg(
        (
            (
                cnt * F.sum((lnn * F.log("f")).cast(D15)).cast("double")
                - F.sum(lnn.cast(D15)).cast("double")
                * F.sum(F.log("f").cast(D15)).cast("double")
            )
            / (
                cnt * F.sum((lnn * lnn).cast(D15)).cast("double")
                - F.sum(lnn.cast(D15)).cast("double")
                * F.sum(lnn.cast(D15)).cast("double")
            )
        ).alias("a")
    )
    piv = fvals.groupBy().pivot("n", list(_DFA_SCALES)).agg(F.max("f"))
    return (
        m.select("nd")
        .crossJoin(F.broadcast(piv))
        .crossJoin(F.broadcast(alpha))
        .select(
            F.col("nd").alias("n_days"),
            F.round("4", 6).alias("f_4"),
            F.round("8", 6).alias("f_8"),
            F.round("16", 6).alias("f_16"),
            F.round("32", 6).alias("f_32"),
            F.round("a", 6).alias("dfa_alpha"),
        )
    )
