"""Analytics batch 13: behavioral/statistical shapes — Markov transition
matrix, Zipf term ranking, RFM segmentation, audience-overlap Jaccard.

Determinism per :mod:`watermill_spark.analytics.det` (integer counts, single
IEEE divisions, total-order tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dsum
from .distrib import ntile_of, two_level_order
from .registry import load, register, spread


@register(
    "q_events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, next_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM trans
    """,
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next_type | type) with raw counts.

    Scale: one lead window per user (single shuffle), then a |types|² count
    — the matrix is tiny no matter the input size. The probability is one
    IEEE division of exact integer counts.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy("event_type", "next_type").agg(bcount("n"))
    wt = Window.partitionBy("event_type")
    return trans.select(
        "event_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt).cast("double")).alias("p"),
    )


@register(
    "q_doc_zipf",
    oracle="""
    WITH tf AS (
      SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS term FROM documents
    ),
    counted AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM tf GROUP BY 1
    )
    SELECT term, n,
           CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank,
           CAST(n AS DOUBLE)
             * CAST(row_number() OVER (ORDER BY n DESC, term) AS DOUBLE) AS zipf_product
    FROM counted
    ORDER BY rank LIMIT 50
    """,
)
def q_doc_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit: global term frequencies with rank and the
    rank×frequency product (≈constant under Zipf) for the top-50 terms.

    Scale: term counting partial-aggregates the exploded token stream; the
    global ranking window only sees |vocabulary| rows, and LIMIT 50 plans a
    TakeOrdered, not a full sort. Tiebreak on term keeps ranks total-ordered.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    counted = (
        docs.select(F.explode(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).alias("term"))
        .groupBy("term")
        .agg(bcount("n"))
    )
    # r7 (guide §2.5): the rank window ran single-task over the
    # data-scaled |vocabulary| grid (the LIMIT above it does NOT prune a
    # row_number window). Take the top-50 FIRST — orderBy+limit plans
    # TakeOrderedAndProject (per-partition top-k, then a 50-row merge) —
    # and rank inside the bounded 50-row set: identical rows and ranks,
    # because the top-50 by (n DESC, term) are exactly ranks 1..50 of the
    # same total order.
    top = counted.orderBy(F.desc("n"), "term").limit(50)
    w = Window.orderBy(F.desc("n"), "term")
    rank = F.row_number().over(w).cast("bigint")
    return (
        top.select(
            "term",
            "n",
            rank.alias("rank"),
            (F.col("n").cast("double") * rank.cast("double")).alias("zipf_product"),
        )
        .orderBy("rank")
    )


@register(
    "q_customer_rfm",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, last_order, frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_score
    FROM rfm
    """,
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary + quintile
    scores (the classic marketing-analytics table).

    Scale: the per-customer aggregation collapses orders first; the three
    global ntile windows run over |customers| rows — at 100 TB these become
    `repartitionByRange` + per-partition ranking, same declared surface.
    Every ntile orders with a unique tiebreak (custkey) so bucket boundaries
    are engine-identical.
    """
    orders = load(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        bcount("frequency"),
        dsum("o_totalprice", "monetary"),
    )
    # r7 (guide §2.5): the promised repartitionByRange + per-partition
    # ranking — each ntile is a pure expression of the exact distributed
    # rank and n (identical bucket boundaries: first n%k buckets get
    # ⌈n/k⌉ rows), so no |customers| stream ever sorts in one task.
    out = rfm
    for order, score in [
        ("last_order", "r_score"),
        ("frequency", "f_score"),
        ("monetary", "m_score"),
    ]:
        out = (
            two_level_order(
                out,
                [order, "o_custkey"],
                rank_col="_rk",
                total_count="_n",
            )
            .withColumn(score, ntile_of(F.col("_rk"), F.col("_n"), 5))
            .drop("_rk", "_n")
        )
    return out.select(
        "o_custkey", "last_order", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


@register(
    "q_events_type_jaccard",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1),
    inter AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.t1, i.t2, i.n_inter, s1.n AS n1, s2.n AS n2,
           CAST(i.n_inter AS DOUBLE)
             / CAST(s1.n + s2.n - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes s1 ON s1.event_type = i.t1
    JOIN sizes s2 ON s2.event_type = i.t2
    """,
)
def q_events_type_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: pairwise Jaccard of user sets.

    Scale: the self-join is keyed on user_id (co-partitioned, one shuffle)
    and produces at most |types|²/2 aggregated rows; set sizes broadcast
    back. |A∪B| is computed as n1+n2−n∩ (exact integers), so no union
    materialization.
    """
    ev = load(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    # checkpointed once (r6): the per-type sizes and both intersection
    # join sides each re-derived the distinct rollup from the fact (4
    # events scans in the plan); the type×user grid materializes once
    tu = tu.localCheckpoint(eager=True)
    sizes = tu.groupBy("event_type").agg(bcount("n"))
    a = tu.alias("a")
    b = tu.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(F.col("a.event_type").alias("t1"), F.col("b.event_type").alias("t2"))
        .agg(bcount("n_inter"))
    )
    s1 = sizes.select(F.col("event_type").alias("t1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("event_type").alias("t2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(s1), "t1")
        .join(F.broadcast(s2), "t2")
        .select(
            "t1",
            "t2",
            "n_inter",
            "n1",
            "n2",
            (
                F.col("n_inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


NATION_TRADE_EDGES_SQL = """
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
"""


def nation_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed nation trade graph, ``NATION_TRADE_EDGES_SQL``'s twin:
    one row per (customer nation ``src``, supplier nation ``dst``) pair with
    ``src != dst``, weighted by the order lines between them (``w``,
    BIGINT). The fact join collapses to at most |nations|² rows."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(bcount("w"))
    )


_PR_STEP_SQL = """
      SELECT n.node,
             0.15 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM nodes)
             + 0.85 * COALESCE(CAST(SUM(CAST(
                 {prev}.r * (CAST(e.w AS DOUBLE) / CAST(od.out_w AS DOUBLE))
               AS DECIMAL(28,18))) AS DOUBLE), 0.0) AS r
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN outdeg od ON od.src = e.src
      LEFT JOIN {prev} ON {prev}.node = e.src
      GROUP BY n.node
"""


@register(
    "q_pagerank_nations",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    outdeg AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY 1
    ),
    r0 AS (
      SELECT node, 1.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM nodes) AS r
      FROM nodes
    ),
    r1 AS ({_PR_STEP_SQL.format(prev="r0")}),
    r2 AS ({_PR_STEP_SQL.format(prev="r1")}),
    r3 AS ({_PR_STEP_SQL.format(prev="r2")})
    SELECT CAST(node AS BIGINT) AS node, round(r, 9) AS pagerank FROM r3
    """,
)
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (3 fixed iterations, damping 0.85) over the
    nation→nation trade graph (edge weight = order lines shipped from
    customer nation to supplier nation).

    The iterative-algorithm showcase: the driver loop builds one join+agg
    stage per iteration; every contribution sum goes through DECIMAL(28,18)
    so partial-agg order can't change the sum; the remaining last-ulp
    wobble (double→wide-decimal casts route through shortest-string
    representation on the JVM) is absorbed by rounding the FINAL rank to
    9 digits on both engines — which is what lets an *iterative* algorithm
    hash-match a chained-CTE oracle at all. Scale: nodes/outdeg are broadcast; each iteration is one
    shuffle over |edges|; a 100-TB edge list changes nothing structurally
    (checkpoint every ~5 iterations to cut lineage).
    """
    edges = nation_trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = float(nodes.count())
    outdeg = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("out_w"))
    ranks = nodes.withColumn("r", F.lit(1.0 / n_nodes))
    for _ in range(3):
        # pre-aggregate per destination BEFORE joining the node spine: the
        # join input shrinks from |edges| to <=|nodes| rows, so the spine
        # join broadcasts at any scale (partial aggregation does the heavy
        # lifting map-side)
        contrib = (
            edges.join(F.broadcast(outdeg), "src")
            .join(F.broadcast(ranks.withColumnRenamed("node", "src")), "src")
            .select(
                "dst",
                (
                    F.col("r") * (F.col("w").cast("double") / F.col("out_w").cast("double"))
                ).cast("decimal(28,18)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c_sum"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(0.85) * F.coalesce(F.col("c_sum").cast("double"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").cast("bigint").alias("node"), F.round("r", 9).alias("pagerank")
    )


@register(
    "q_user_entropy",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    totals AS (
      SELECT user_id, CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM counts GROUP BY 1
    )
    SELECT c.user_id, t.total, t.n_types,
           round(-SUM((CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE))
                      * log2(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE))), 9)
             AS entropy_bits
    FROM counts c JOIN totals t USING (user_id)
    GROUP BY c.user_id, t.total, t.n_types
    """,
)
def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy (Shannon, bits) over event-type mix — the
    diversity signal of engagement scoring.

    log2 is transcendental (not correctly rounded by IEEE), so terms may
    differ in the last ulp between libm and the JVM; with ≤5 types the
    accumulated wobble is « 1e-12 and round(…, 9) absorbs it (unlike sums
    over unbounded rows, where we'd restructure to avoid logs entirely —
    see q_tfidf_top_terms).
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the totals and the entropy join both
    # re-derived the counts (2 events scans in the plan); the user×type
    # grid materializes once (posting-list class)
    counts = ev.groupBy("user_id", "event_type").agg(bcount("n")).localCheckpoint(
        eager=True
    )
    totals = counts.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("total"), bcount("n_types")
    )
    p = F.col("n").cast("double") / F.col("total").cast("double")
    return (
        counts.join(totals, "user_id")
        .groupBy("user_id", "total", "n_types")
        .agg(F.round(-F.sum(p * F.log2(p)), 9).alias("entropy_bits"))
    )


@register(
    "q_events_late_arrivals",
    oracle="""
    WITH marked AS (
      SELECT event_type, ts, event_id,
             MAX(ts) OVER (PARTITION BY event_type
                           ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS high_watermark
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE ts < high_watermark - INTERVAL 10 MINUTE)
                AS BIGINT) AS n_late_10m,
           CAST(COUNT(*) FILTER (WHERE ts < high_watermark - INTERVAL 60 MINUTE)
                AS BIGINT) AS n_late_60m
    FROM marked GROUP BY 1
    """,
)
def q_events_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting: events arriving (in event_id ingest order) more
    than 10/60 minutes behind the running event-time high watermark — the
    measurement that justifies a streaming watermark choice (`withWatermark`
    delay = the lateness you're willing to wait for; everything later is
    dropped, so this query quantifies the drop rate per candidate delay).

    Scale: one running-max window per type over ingest order, then a
    filtered count — no joins; the same audit runs incrementally in the
    streaming twin via max-aggregation per micro-batch.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.select(
        "event_type", "ts", F.max("ts").over(w).alias("high_watermark")
    )
    late = lambda mins: F.count(
        F.when(F.col("ts") < F.col("high_watermark") - F.expr(f"INTERVAL {mins} MINUTE"), 1)
    ).cast("bigint")
    return marked.groupBy("event_type").agg(
        bcount("n_events"),
        late(10).alias("n_late_10m"),
        late(60).alias("n_late_60m"),
    )


@register(
    "q_supplier_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             SUM(CAST(l_extendedprice * (1.0 - l_discount)
                      AS DECIMAL(18,6))) AS revenue_dec
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT l_suppkey, revenue,
             CAST(row_number() OVER (ORDER BY revenue_dec DESC, l_suppkey)
                  AS BIGINT) AS rnk,
             CAST(SUM(revenue_dec) OVER (ORDER BY revenue_dec DESC, l_suppkey
                                         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST((SELECT SUM(revenue_dec) FROM rev) AS DOUBLE) AS cum_share
      FROM rev
    )
    SELECT l_suppkey, revenue, rnk, cum_share, cum_share <= 0.8 AS in_top80
    FROM ranked
    """,
)
def q_supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) analysis: suppliers ranked by revenue with cumulative
    share and the top-80% flag.

    Determinism: the running share divides an exact-decimal cumulative sum
    by the exact-decimal grand total — one IEEE division per row; ordering
    ties broken by suppkey. Scale: the rank/cumsum window is global but runs
    over |suppliers| (already aggregated) rows; at 100 TB that window uses
    `repartitionByRange` internally, same surface.
    """
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("revenue_dec")
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the grand total and the running share
    # both re-derived the rollup (2 lineitem scans in the plan); the
    # supplier-domain grid materializes once
    total = rev.agg(F.sum("revenue_dec").alias("t"))
    w = Window.orderBy(F.desc("revenue_dec"), "l_suppkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    share = F.sum("revenue_dec").over(w).cast("double") / F.col("t").cast("double")
    return (
        rev.join(F.broadcast(total))
        .select(
            "l_suppkey",
            F.col("revenue_dec").cast("double").alias("revenue"),
            F.row_number()
            .over(Window.orderBy(F.desc("revenue_dec"), "l_suppkey"))
            .cast("bigint")
            .alias("rnk"),
            share.alias("cum_share"),
            (share <= 0.8).alias("in_top80"),
        )
    )
