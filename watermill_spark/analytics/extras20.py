"""Analytics batch 28: feature engineering & sketching — covariance/
correlation matrix, winsorized mean, per-group z-score / min-max feature
scaling, count-min-sketch heavy hitters, Wald-Wolfowitz runs test, and
local clustering coefficient on the nation trade graph.

Cross-engine stance: second moments (Σx², Σxy) ride DECIMAL(30,6) — at
sf0.1 price² sums reach ~6e15, past DECIMAL(18,6)'s 1e12 integer range;
(30,6) holds to ~1e17 rows of this data. The count-min sketch uses md5 hex
digits as its hash family (the engine-portable hash, same idiom as
MinHash/SimHash in dedup.py): `instr('0123456789abcdef', substr(md5(k),
i, 1)) - 1` is a uniform 4-bit digit in both Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register

_D30 = "decimal(30,6)"


@register(
    "q_covariance_matrix",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sp,
             SUM(CAST(l_discount AS DECIMAL(18,6))) AS sd,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS sq2,
             SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,6))) AS sp2,
             SUM(CAST(l_discount * l_discount AS DECIMAL(30,6))) AS sd2,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS sqp,
             SUM(CAST(l_quantity * l_discount AS DECIMAL(30,6))) AS sqd,
             SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS spd
      FROM lineitem
    ),
    d AS (
      SELECT CAST(n AS DOUBLE) AS n,
             CAST(sq AS DOUBLE) AS sq, CAST(sp AS DOUBLE) AS sp,
             CAST(sd AS DOUBLE) AS sd, CAST(sq2 AS DOUBLE) AS sq2,
             CAST(sp2 AS DOUBLE) AS sp2, CAST(sd2 AS DOUBLE) AS sd2,
             CAST(sqp AS DOUBLE) AS sqp, CAST(sqd AS DOUBLE) AS sqd,
             CAST(spd AS DOUBLE) AS spd
      FROM m
    )
    SELECT pair, CAST(n AS BIGINT) AS n,
           round(cov, 6) AS covariance,
           round(cov / sqrt(vx * vy), 6) AS correlation
    FROM (
      SELECT 'quantity~price' AS pair, n,
             (sqp - sq * sp / n) / (n - 1) AS cov,
             (sq2 - sq * sq / n) / (n - 1) AS vx,
             (sp2 - sp * sp / n) / (n - 1) AS vy
      FROM d
      UNION ALL
      SELECT 'quantity~discount', n,
             (sqd - sq * sd / n) / (n - 1),
             (sq2 - sq * sq / n) / (n - 1),
             (sd2 - sd * sd / n) / (n - 1)
      FROM d
      UNION ALL
      SELECT 'price~discount', n,
             (spd - sp * sd / n) / (n - 1),
             (sp2 - sp * sp / n) / (n - 1),
             (sd2 - sd * sd / n) / (n - 1)
      FROM d
    )
    """,
)
def q_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise sample covariance/correlation matrix of (quantity,
    extendedprice, discount) — all nine moments in ONE aggregation pass,
    long-format output (one row per pair).

    Scale: single scan, partial aggregation collapses to one moment row
    before the gather; the pair expansion is a 1-row→3-row select. §2.B
    [NS] (feature-engineering surface: input covariances feed PCA/whitening
    in a training pipeline).
    """
    li = load(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).alias("sq"),
        F.sum(dec("l_extendedprice")).alias("sp"),
        F.sum(dec("l_discount")).alias("sd"),
        F.sum((q * q).cast(_D30)).alias("sq2"),
        F.sum((p * p).cast(_D30)).alias("sp2"),
        F.sum((d * d).cast(_D30)).alias("sd2"),
        F.sum((q * p).cast(_D30)).alias("sqp"),
        F.sum((q * d).cast(_D30)).alias("sqd"),
        F.sum((p * d).cast(_D30)).alias("spd"),
    )
    # checkpointed once (r6): the three unioned pair selects each
    # re-derived the moment aggregate (3 lineitem scans in the plan);
    # the 1-row moment table materializes once
    dd = m.select(
        *[F.col(c).cast("double").alias(c) for c in m.columns]
    ).localCheckpoint(eager=True)
    n = F.col("n")

    def pair(name, sxy, sx, sy, sx2, sy2):
        cov = (F.col(sxy) - F.col(sx) * F.col(sy) / n) / (n - 1)
        vx = (F.col(sx2) - F.col(sx) * F.col(sx) / n) / (n - 1)
        vy = (F.col(sy2) - F.col(sy) * F.col(sy) / n) / (n - 1)
        return dd.select(
            F.lit(name).alias("pair"),
            n.cast("bigint").alias("n"),
            F.round(cov, 6).alias("covariance"),
            F.round(cov / F.sqrt(vx * vy), 6).alias("correlation"),
        )

    return (
        pair("quantity~price", "sqp", "sq", "sp", "sq2", "sp2")
        .unionAll(pair("quantity~discount", "sqd", "sq", "sd", "sq2", "sd2"))
        .unionAll(pair("price~discount", "spd", "sp", "sd", "sp2", "sd2"))
    )


@register(
    "q_winsorized_mean",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity, l_orderkey, l_linenumber)
               AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    g AS (
      SELECT l_returnflag,
             CAST(MAX(n) AS BIGINT) AS n,
             CAST(MAX(CAST(ceil(0.1 * n) AS BIGINT)) AS BIGINT) AS c,
             MAX(CASE WHEN rn <= CAST(ceil(0.1 * n) AS BIGINT)
                      THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS lo,
             MIN(CASE WHEN rn >= n - CAST(ceil(0.1 * n) AS BIGINT) + 1
                      THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS hi,
             SUM(CASE WHEN rn > CAST(ceil(0.1 * n) AS BIGINT)
                       AND rn < n - CAST(ceil(0.1 * n) AS BIGINT) + 1
                      THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS mid_sum
      FROM r GROUP BY 1
    )
    SELECT l_returnflag, n, c,
           CAST(lo AS DOUBLE) AS p10_value,
           CAST(hi AS DOUBLE) AS p90_value,
           round((CAST(mid_sum AS DOUBLE)
                  + c * CAST(lo AS DOUBLE) + c * CAST(hi AS DOUBLE)) / n, 6)
             AS winsorized_mean
    FROM g
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% winsorized mean of quantity per returnflag: the c=⌈0.1n⌉ lowest
    ranks are clamped up to the rank-c value, the c highest down to the
    rank-(n-c+1) value — robust location, unlike the trimmed mean it keeps
    n constant.

    Rank math over a total order (quantity, orderkey, linenumber) replaces
    any percentile lookup; boundary values and the middle sum come out of
    one conditional aggregation, and the winsorized mean is assembled as
    (mid_sum + c·lo + c·hi)/n on the |flags| grid — no second pass over
    the data.

    Scale: rank window and final groupBy share the l_returnflag clustering
    — one hash exchange for the whole pipeline, no joins. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    wr = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    c = F.ceil(0.1 * F.col("n")).cast("bigint")
    qd = dec("l_quantity")
    g = r.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(c).cast("bigint").alias("c"),
        F.max(F.when(F.col("rn") <= c, qd)).alias("lo"),
        F.min(F.when(F.col("rn") >= F.col("n") - c + 1, qd)).alias("hi"),
        F.sum(
            F.when((F.col("rn") > c) & (F.col("rn") < F.col("n") - c + 1), qd)
        ).alias("mid_sum"),
    )
    lod, hid = F.col("lo").cast("double"), F.col("hi").cast("double")
    return g.select(
        "l_returnflag",
        "n",
        "c",
        lod.alias("p10_value"),
        hid.alias("p90_value"),
        F.round(
            (F.col("mid_sum").cast("double") + F.col("c") * lod + F.col("c") * hid)
            / F.col("n"),
            6,
        ).alias("winsorized_mean"),
    )


@register(
    "q_zscore_features",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sx2,
             MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT e.event_type,
             (e.value - s.sx / s.n)
               / sqrt((s.sx2 - s.sx * s.sx / s.n) / (s.n - 1)) AS z,
             (e.value - s.mn) / (s.mx - s.mn) AS mm
      FROM events e JOIN s ON e.event_type = s.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MIN(z), 6) AS min_z,
           round(MAX(z), 6) AS max_z,
           CAST(COUNT(CASE WHEN abs(z) > 2 THEN 1 END) AS BIGINT)
             AS n_outliers,
           round(MIN(mm), 6) AS min_minmax,
           round(MAX(mm), 6) AS max_minmax
    FROM z GROUP BY 1
    """,
)
def q_zscore_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling: z-score and min-max normalize `value`
    within each event type, reporting the normalized range and the |z|>2
    outlier count per type (the standard pre-training feature sanity
    check).

    The per-row normalized values are doubles, but every reported reduction
    over them is order-independent (MIN/MAX/COUNT) — so no decimal detour
    is needed despite per-row FP math.

    Scale: the 5-row stats table broadcasts back onto the fact scan (no
    fact shuffle for the join); partial aggregation collapses the
    normalized rows before the final |types| exchange. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    # single scan (r6): the per-type stats and the scoring join-back each
    # re-scanned events; every output is an aggregate, so both derive
    # exactly from ONE (type, value) count grid (checkpointed once —
    # posting-list class): min/max over the grid equal min/max over raw
    # rows, and the sums are count-weighted with every decimal product
    # sized within precision 38 (no rescale ⇒ c × value ≡ the value
    # added c times)
    vg = ev.groupBy("event_type", "value").agg(bcount("c")).localCheckpoint(
        eager=True
    )
    cw = F.col("c").cast("decimal(12,0)")
    s = vg.groupBy(F.col("event_type").alias("t")).agg(
        F.sum("c").alias("sn"),
        F.sum(dec("value").cast("decimal(25,6)") * cw).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(25,6)") * cw)
        .cast("double")
        .alias("sx2"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    j = vg.join(F.broadcast(s), vg.event_type == s.t)
    mu = F.col("sx") / F.col("sn")
    sd = F.sqrt((F.col("sx2") - F.col("sx") * F.col("sx") / F.col("sn")) / (F.col("sn") - 1))
    z = (F.col("value") - mu) / sd
    mm = (F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn"))
    return (
        j.select("event_type", z.alias("z"), mm.alias("mm"), "c")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.round(F.min("z"), 6).alias("min_z"),
            F.round(F.max("z"), 6).alias("max_z"),
            F.coalesce(
                F.sum(F.when(F.abs(F.col("z")) > 2, F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.min("mm"), 6).alias("min_minmax"),
            F.round(F.max("mm"), 6).alias("max_minmax"),
        )
    )



def _sql_bucket(key_expr: str, seed_expr: str = "s") -> str:
    """Portable md5→[0,256) bucket: two 4-bit hex digits."""
    h = f"md5(CAST({seed_expr} AS VARCHAR) || ':' || {key_expr})"
    return (
        f"{sql_hexval(f'substr({h}, 1, 1)')} * 16"
        f" + {sql_hexval(f'substr({h}, 2, 1)')}"
    )


@register(
    "q_cms_heavy_hitters",
    oracle=f"""
    WITH seeds AS (SELECT unnest([0, 1, 2, 3]) AS s),
    sketch AS (
      SELECT s, {_sql_bucket("CAST(user_id AS VARCHAR)")} AS b,
             COUNT(*) AS cnt
      FROM events CROSS JOIN seeds GROUP BY 1, 2
    ),
    truth AS (
      SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY 1
    ),
    probe AS (
      SELECT t.user_id, t.true_n, sk.cnt
      FROM truth t
      CROSS JOIN seeds
      JOIN sketch sk
        ON sk.s = seeds.s
       AND sk.b = {_sql_bucket("CAST(t.user_id AS VARCHAR)", "seeds.s")}
    ),
    est AS (
      SELECT user_id, CAST(MAX(true_n) AS BIGINT) AS true_n,
             CAST(MIN(cnt) AS BIGINT) AS cms_estimate
      FROM probe GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, true_n, cms_estimate,
           CAST(cms_estimate - true_n AS BIGINT) AS overcount
    FROM est
    ORDER BY cms_estimate DESC, user_id
    LIMIT 15
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 × width 256) over event user_ids, probed
    for the top-15 heavy hitters: per user the CMS estimate (min over the
    four hashed counters) next to the true count and the sketch's
    overcount. The hash family is md5 hex digits — deterministic and
    identical across engines, so even the sketch's collision error is
    reproducible.

    Scale: the sketch is the point — 4×256 counters summarize any number
    of rows; the build is one partial-agg shuffle of ≤1024 rows, the probe
    joins the distinct-key table to the broadcast sketch. At 100 TB the
    sketch size is unchanged; only the build scan grows. §2.B [NS]
    (streaming twin: the same groupBy runs incrementally under
    Structured Streaming, counters merge by addition).
    """
    ev = load(spark, sf_dir, "events")
    seeds = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("s")
    h = "md5(CAST(s AS STRING) || ':' || CAST(user_id AS STRING))"
    bucket = (
        hexval(F.expr(f"substr({h}, 1, 1)")) * 16 + hexval(F.expr(f"substr({h}, 2, 1)"))
    ).alias("b")
    # single scan (r6): the sketch counted raw event rows per (seed,
    # bucket) with a second events scan; every event of a user lands in
    # the same bucket, so the counters are exactly the per-user count
    # grid re-summed (checkpointed once, state linear in the user domain)
    truth = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("true_n")
    ).localCheckpoint(eager=True)
    sketch = (
        truth.select("user_id", "true_n", seeds)
        .select("s", bucket, "true_n")
        .groupBy("s", "b")
        .agg(F.sum("true_n").alias("cnt"))
    )
    probe = (
        truth.select("user_id", "true_n", seeds)
        .select("user_id", "true_n", "s", bucket)
        .join(F.broadcast(sketch), ["s", "b"])
    )
    est = probe.groupBy("user_id").agg(
        F.max("true_n").cast("bigint").alias("true_n"),
        F.min("cnt").cast("bigint").alias("cms_estimate"),
    )
    return (
        est.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "true_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("true_n")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.col("cms_estimate").desc(), "user_id")
        .limit(15)
    )


@register(
    "q_runs_test",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT day, rev,
             row_number() OVER (ORDER BY rev, day) AS rn,
             COUNT(*) OVER () AS n
      FROM d
    ),
    med AS (
      SELECT MAX(CASE WHEN rn = (n + 1) // 2 THEN rev END) AS m FROM r
    ),
    sgn AS (
      SELECT day, rev > (SELECT m FROM med) AS above FROM d
    ),
    seq AS (
      SELECT above,
             CASE WHEN above IS DISTINCT FROM lag(above) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS chg
      FROM sgn
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2,
             CAST(SUM(chg) AS BIGINT) AS runs
      FROM seq
    )
    SELECT n1, n2, runs,
           round((CAST(runs AS DOUBLE)
                  - (1 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)
                           * (n1 + n2 - 1))), 6) AS z_stat
    FROM agg
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily-revenue series:
    is the sequence of above/below-median days random, or does it cluster
    (momentum) / alternate (mean-reversion)?

    The median is the rank-⌊(n+1)/2⌋ element under a total order (rev,
    day) — exact, no percentile interpolation; runs are counted as sign
    changes via lag(); n1/n2/runs are integers, so only the closed-form z
    is floating point.

    Scale: |days| grid throughout after one fact shuffle; the rank and lag
    windows are calendar-bounded single-partition passes. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the median rank and the sign sequence both
    # re-derived the rollup (2 orders scans in the plan); the
    # calendar-bounded day grid materializes once
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).alias("rev")
    ).localCheckpoint(eager=True)
    r = d.select(
        "day",
        "rev",
        F.row_number().over(Window.orderBy("rev", "day")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))).alias("n"),
    )
    med = r.agg(
        F.max(
            F.when(F.col("rn") == ((F.col("n") + 1) / 2).cast("bigint"), F.col("rev"))
        ).alias("m")
    )
    sgn = d.join(F.broadcast(med)).select(
        "day", (F.col("rev") > F.col("m")).alias("above")
    )
    seq = sgn.select(
        "above",
        F.when(
            ~F.col("above").eqNullSafe(F.lag("above").over(Window.orderBy("day"))), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    agg = seq.agg(
        F.sum(F.when(F.col("above"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).cast("bigint").alias("n2"),
        F.sum("chg").cast("bigint").alias("runs"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    mu = 1 + 2.0 * n1 * n2 / (n1 + n2)
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.select(
        "n1",
        "n2",
        "runs",
        F.round((runs.cast("double") - mu) / F.sqrt(var), 6).alias("z_stat"),
    )


_EDGE_SQL = f"""
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({NATION_TRADE_EDGES_SQL})
"""


@register(
    "q_clustering_coefficient",
    oracle=f"""
    WITH und AS ({_EDGE_SQL}),
    sym AS (
      SELECT a AS u, b AS v FROM und
      UNION ALL
      SELECT b, a FROM und
    ),
    deg AS (
      SELECT u AS node, COUNT(*) AS degree FROM sym GROUP BY 1
    ),
    wedge AS (
      SELECT e1.u AS node, e1.v AS x, e2.v AS y
      FROM sym e1 JOIN sym e2 ON e2.u = e1.u AND e2.v > e1.v
    ),
    closed AS (
      SELECT w.node, COUNT(*) AS n_closed
      FROM wedge w
      JOIN und e ON e.a = least(w.x, w.y) AND e.b = greatest(w.x, w.y)
      GROUP BY 1
    )
    SELECT CAST(d.node AS BIGINT) AS node,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(c.n_closed, 0) AS BIGINT) AS closed_wedges,
           round(CAST(COALESCE(c.n_closed, 0) AS DOUBLE)
                 / (d.degree * (d.degree - 1) / 2.0), 6) AS clustering_coef
    FROM deg d LEFT JOIN closed c ON c.node = d.node
    WHERE d.degree >= 2
    """,
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation in the trade graph (same
    undirected edge set as q_trade_triangles): closed wedges at a node /
    possible wedges deg·(deg-1)/2 — how clique-like each nation's trade
    neighborhood is.

    Wedges are enumerated from the symmetrized edge list with v2 > v1 (each
    unordered neighbor pair once) and closed by joining back to the edge
    set; all counts are integers.

    Scale: the edge set collapses to ≤|nations|² rows right after the
    dim-broadcast star join, so wedge enumeration and closure run on a
    dimension-sized table — the fact table is touched exactly once. §2.B
    [NS].
    """
    und = (
        nation_trade_edges(spark, sf_dir)
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        # checkpointed once (r6): sym (×2), the wedge self-join sides and
        # the closure probe each re-derived the 4-table fact join (7
        # lineitem scans in the plan) — now the docstring's "fact table
        # touched exactly once" actually holds
        .localCheckpoint(eager=True)
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    e1 = sym.alias("e1")
    e2 = sym.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e2.u") == F.col("e1.u")) & (F.col("e2.v") > F.col("e1.v")),
    ).select(
        F.col("e1.u").alias("node"),
        F.col("e1.v").alias("x"),
        F.col("e2.v").alias("y"),
    )
    closed = (
        wedge.join(
            F.broadcast(und),
            (F.col("a") == F.least("x", "y")) & (F.col("b") == F.greatest("x", "y")),
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    return (
        deg.join(closed, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_closed"), F.lit(0)).cast("bigint").alias(
                "closed_wedges"
            ),
            F.round(
                F.coalesce(F.col("n_closed"), F.lit(0)).cast("double")
                / (F.col("degree") * (F.col("degree") - 1) / 2.0),
                6,
            ).alias("clustering_coef"),
        )
    )
