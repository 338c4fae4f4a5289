"""Analytics batch 166: Markov removal-effect attribution, trade-graph
eccentricity/diameter, and embedding isotropy.

Removal-effect attribution completes the attribution family
(q_last_touch_attribution, q_linear_attribution, q_time_decay_score,
q_shapley_attribution): each channel's credit is how much total
conversion DROPS when walks can no longer pass through it — the
data-driven model ad platforms actually run, here with all removal
variants fitted in ONE keyed iteration (the q_placebo_cutpoints
trick applied to the q_markov_steps_to_purchase chain). Eccentricity/
diameter give the trade graph its exact distance summary; isotropy is
the embedding-health check (anisotropic spaces break cosine retrieval)
complementing q_embedding_standardization / q_jl_projection_distortion.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B graph/aggregation families + the similarity-search mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register
from .relations import FIRST_EVENT_TYPES_SQL, first_event_types

_RM_ROUNDS = 12

_RM_STEP_SQL = """
      SELECT d.r, d.src AS state,
             d.pd + COALESCE(CAST(SUM(CAST(q.pr * {prev}.cv
                    AS DECIMAL(28,18))) AS DOUBLE), 0.0) AS cv
      FROM direct d
      LEFT JOIN qp q ON q.r = d.r AND q.src = d.src
      LEFT JOIN {prev} ON {prev}.r = q.r AND {prev}.state = q.dst
      GROUP BY d.r, d.src, d.pd
"""

_ECC_ROUNDS = 6

_ECC_STEP_SQL = """
      SELECT a, b, CAST(MIN(dist) AS BIGINT) AS dist
      FROM (SELECT a, b, dist FROM {prev}
            UNION ALL
            SELECT p.a, e.b, p.dist + 1
            FROM {prev} p JOIN sym e ON e.a = p.b
            WHERE p.a <> e.b)
      GROUP BY 1, 2
"""


@register(
    "q_markov_removal_attribution",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    trans AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE dst IS NOT NULL AND src <> 'purchase'
      GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM trans GROUP BY 1),
    probs AS (
      SELECT t.src, t.dst, CAST(t.c AS DOUBLE) / tt.n AS pr
      FROM trans t JOIN tot tt ON tt.src = t.src
    ),
    removals AS (
      SELECT 'none' AS r
      UNION ALL SELECT DISTINCT src FROM trans
    ),
    kp AS (
      SELECT rm.r, p.src, p.dst, p.pr
      FROM probs p, removals rm
      WHERE rm.r = 'none' OR (p.src <> rm.r AND p.dst <> rm.r)
    ),
    direct AS (
      SELECT r, src,
             CAST(SUM(CASE WHEN dst = 'purchase' THEN CAST(pr AS
                  DECIMAL(28,18)) ELSE CAST(0 AS DECIMAL(28,18)) END)
                  AS DOUBLE) AS pd
      FROM kp GROUP BY 1, 2
    ),
    qp AS (SELECT r, src, dst, pr FROM kp WHERE dst <> 'purchase'),
    c0 AS (SELECT r, src AS state, CAST(0.0 AS DOUBLE) AS cv FROM direct),
    {",".join(f"c{k + 1} AS MATERIALIZED ({_RM_STEP_SQL.format(prev=f'c{k}')})" for k in range(_RM_ROUNDS))},
    firsts AS (SELECT user_id, first_type AS state
               FROM ({FIRST_EVENT_TYPES_SQL})),
    starts AS (
      SELECT state, CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM firsts) AS share
      FROM firsts GROUP BY 1
    ),
    conv AS (
      SELECT c.r,
             CAST(SUM(CAST(s.share * c.cv AS DECIMAL(28,18)))
                  AS DOUBLE) AS conv
      FROM c{_RM_ROUNDS} c JOIN starts s ON s.state = c.state
      GROUP BY 1
    ),
    base AS (SELECT conv AS b FROM conv WHERE r = 'none')
    SELECT c.r AS removed_channel,
           round(b.b, 6) AS base_conversion,
           round(c.conv, 6) AS conversion_without,
           round(1.0 - c.conv / b.b, 6) AS removal_effect,
           round((1.0 - c.conv / b.b)
                 / SUM(1.0 - c.conv / b.b) OVER (), 6)
             AS attribution_share
    FROM conv c, base b
    WHERE c.r <> 'none'
    ORDER BY c.r
    """,
)
def q_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: with the user event chain's
    MLE transition matrix and 'purchase' absorbing, each channel's
    credit is the relative drop in 12-step conversion probability when
    walks may no longer enter that channel — all four removal variants
    plus the intact baseline fitted in ONE iteration by keying the
    chain on the removal dimension (the q_placebo_cutpoints sharing
    trick on the q_markov_steps_to_purchase recipe). The data-driven
    attribution model that makes q_last_touch/linear/time-decay's
    heuristics testable.

    Determinism: probabilities are integer-count ratios; each round's
    P·c products route per-term through DECIMAL(28,18); the start
    distribution is exact shares.

    Scale: the keyed chain is |removals|×|states|² — broadcast-sized;
    12 rounds of equi-joins on it; the one fact shuffle is the
    per-user lead window. §2.B graph/causal family [NS].
    """
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("src"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("dst"),
    )
    trans = (
        seq.filter(F.col("dst").isNotNull() & (F.col("src") != "purchase"))
        .groupBy("src", "dst")
        .agg(bcount("c"))
        # checkpointed once (r6): tot/probs/removals each re-derived the
        # per-user lead window over the fact table; the ≤|types|² grid
        # materializes once
        .localCheckpoint(eager=True)
    )
    tot = trans.groupBy("src").agg(F.sum("c").cast("bigint").alias("n"))
    probs = trans.join(tot, "src").select(
        "src", "dst", (F.col("c").cast("double") / F.col("n")).alias("pr")
    )
    removals = (
        trans.select("src").distinct().select(F.col("src").alias("r"))
        .unionAll(spark.createDataFrame([("none",)], "r string"))
    )
    kp = (
        probs.crossJoin(F.broadcast(removals))
        .filter(
            (F.col("r") == "none")
            | ((F.col("src") != F.col("r")) & (F.col("dst") != F.col("r")))
        )
    ).localCheckpoint(eager=True)
    direct = kp.groupBy("r", "src").agg(
        F.sum(
            F.when(
                F.col("dst") == "purchase", F.col("pr").cast("decimal(28,18)")
            ).otherwise(F.lit(0).cast("decimal(28,18)"))
        )
        .cast("double")
        .alias("pd")
    ).localCheckpoint(eager=True)
    qp = kp.filter(F.col("dst") != "purchase").select(
        F.col("r").alias("qr"), F.col("src").alias("qsrc"), "dst", "pr"
    ).localCheckpoint(eager=True)
    c = direct.select("r", F.col("src").alias("state"), F.lit(0.0).alias("cv"))
    for _ in range(_RM_ROUNDS):
        c = (
            direct.join(
                F.broadcast(qp),
                (F.col("qr") == F.col("r")) & (F.col("qsrc") == F.col("src")),
                "left",
            )
            .join(
                F.broadcast(
                    c.select(
                        F.col("r").alias("cr"),
                        F.col("state").alias("cstate"),
                        "cv",
                    )
                ),
                (F.col("cr") == F.col("qr")) & (F.col("cstate") == F.col("dst")),
                "left",
            )
            .groupBy("r", "src", "pd")
            .agg(
                (
                    F.col("pd")
                    + F.coalesce(
                        F.sum(
                            (F.col("pr") * F.col("cv")).cast("decimal(28,18)")
                        ).cast("double"),
                        F.lit(0.0),
                    )
                ).alias("cv")
            )
            .select("r", F.col("src").alias("state"), "cv")
        )
    firsts = (
        first_event_types(spark, sf_dir)
        .select("user_id", F.col("first_type").alias("state"))
        # checkpointed once (r6): the total count and the per-state rollup
        # each re-ran the first-event window over the fact table; the
        # |users|-row firsts table materializes once (same class as the
        # pass-3 per-user grids)
        .localCheckpoint(eager=True)
    )
    nf = firsts.agg(bcount("nf"))
    starts = (
        firsts.groupBy("state")
        .agg(bcount("cnt"))
        .crossJoin(F.broadcast(nf))
        .select("state", (F.col("cnt").cast("double") / F.col("nf")).alias("share"))
    )
    conv = (
        c.join(F.broadcast(starts), "state")
        .groupBy("r")
        .agg(
            F.sum((F.col("share") * F.col("cv")).cast("decimal(28,18)"))
            .cast("double")
            .alias("conv")
        )
    )
    base = conv.filter(F.col("r") == "none").select(
        F.col("conv").alias("b")
    )
    eff = 1.0 - F.col("conv") / F.col("b")
    wall = Window.partitionBy()
    return (
        conv.filter(F.col("r") != "none")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("r").alias("removed_channel"),
            F.round("b", 6).alias("base_conversion"),
            F.round("conv", 6).alias("conversion_without"),
            F.round(eff, 6).alias("removal_effect"),
            F.round(eff / F.sum(eff).over(wall), 6).alias(
                "attribution_share"
            ),
        )
        .orderBy("removed_channel")
    )


@register(
    "q_eccentricity_diameter",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    sym AS (
      SELECT a, b FROM (
        SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges
      )
    ),
    d0 AS (SELECT a, b, CAST(1 AS BIGINT) AS dist FROM sym),
    {",".join(f"d{k + 1} AS MATERIALIZED ({_ECC_STEP_SQL.format(prev=f'd{k}')})" for k in range(_ECC_ROUNDS))},
    ecc AS (
      SELECT a AS node, CAST(MAX(dist) AS BIGINT) AS eccentricity
      FROM d{_ECC_ROUNDS} WHERE a <> b GROUP BY 1
    ),
    summ AS (
      SELECT CAST(MAX(eccentricity) AS BIGINT) AS diameter,
             CAST(MIN(eccentricity) AS BIGINT) AS radius
      FROM ecc
    )
    SELECT e.node AS nationkey, e.eccentricity, s.diameter, s.radius
    FROM ecc e, summ s
    ORDER BY e.node
    """,
)
def q_eccentricity_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact eccentricity of every nation in the undirected trade
    graph (max shortest-path distance to any reachable node, via 6
    rounds of min-plus frontier expansion — ≥ the graph's diameter,
    so the fixpoint is reached), with the graph diameter and radius —
    the distance summary behind q_harmonic_centrality's aggregate
    view.

    Determinism: distances are exact integers from min-union rounds.

    Scale: the whole computation runs on the collapsed ≤|nations|²
    distance table; each round is one equi-join + min-groupBy on it.
    §2.B graph family [NS].
    """
    edges = nation_trade_edges(spark, sf_dir).select("src", "dst")
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    ).localCheckpoint(eager=True)
    d = sym.select("a", "b", F.lit(1).cast("bigint").alias("dist"))
    hop = sym.select(F.col("a").alias("mid"), F.col("b").alias("nb"))
    for _ in range(_ECC_ROUNDS):
        ext = (
            d.join(F.broadcast(hop), F.col("b") == F.col("mid"))
            .filter(F.col("a") != F.col("nb"))
            .select("a", F.col("nb").alias("b"), (F.col("dist") + 1).alias("dist"))
        )
        d = (
            d.unionAll(ext)
            .groupBy("a", "b")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            # d feeds BOTH branches of the next round's union — without
            # truncation the plan tree doubles per round (2^6 by the end);
            # the table is ≤|nations|² rows, so an eager local snapshot is
            # free (SCALE.md §"Iterative algorithms: lineage is a resource")
            .localCheckpoint(eager=True)
        )
    ecc = (
        d.filter(F.col("a") != F.col("b"))
        .groupBy(F.col("a").alias("node"))
        .agg(F.max("dist").cast("bigint").alias("eccentricity"))
    )
    summ = ecc.agg(
        F.max("eccentricity").cast("bigint").alias("diameter"),
        F.min("eccentricity").cast("bigint").alias("radius"),
    )
    return (
        ecc.crossJoin(F.broadcast(summ))
        .select(
            F.col("node").alias("nationkey"),
            "eccentricity",
            "diameter",
            "radius",
        )
        .orderBy("nationkey")
    )


@register(
    "q_embedding_isotropy",
    oracle="""
    WITH sample AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
    ),
    comp AS (
      SELECT vec_id,
             CAST(k AS BIGINT) AS k,
             CAST(embedding[CAST(k AS INTEGER)] AS DOUBLE) AS v
      FROM sample, UNNEST(range(1, len(embedding) + 1)) AS t(k)
    ),
    norms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,15))) AS DOUBLE))
               AS nrm
      FROM comp GROUP BY 1
    ),
    dots AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,15))) AS DOUBLE)
               AS dot
      FROM comp a JOIN comp b ON b.k = a.k AND b.vec_id > a.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT d.dot / (na.nrm * nb.nrm) AS c
      FROM dots d
      JOIN norms na ON na.vec_id = d.ida
      JOIN norms nb ON nb.vec_id = d.idb
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sample) AS n_vectors,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(c AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cosine,
           round(CAST(SUM(CAST(abs(c) AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_abs_cosine,
           round(CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS share_positive
    FROM cos
    """,
)
def q_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding isotropy check over a fixed 200-vector sample: mean
    pairwise cosine (isotropic spaces → near 0; a large common
    direction inflates it and breaks cosine retrieval), mean |cos|,
    and the positive share — the space-health diagnostic run before
    trusting q_knn_bruteforce / q_ann_lsh_hyperplane results, next to
    q_embedding_standardization (which fixes what this detects).

    Determinism: dot products and norms are decimal-exact sums over
    per-dimension products of identical doubles (the component-explode
    form, not engine list kernels whose summation order differs);
    means accumulate through DECIMAL.

    Scale: the sample is fixed-size by id pushdown, so the pair join
    is a constant 200²/2 regardless of corpus size; production
    isotropy estimates sample-per-partition first. §2.B similarity
    mandate [NS].
    """
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    comp = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("k0", "v0"),
    ).select(
        "vec_id",
        (F.col("k0") + 1).cast("bigint").alias("k"),
        F.col("v0").cast("double").alias("v"),
    )
    # checkpointed once (r6): norms and both dot-product join sides each
    # re-scanned+re-exploded embeddings (5 scans in the plan); the
    # bounded 200-vector component sample materializes once
    comp = comp.localCheckpoint(eager=True)
    norms = comp.groupBy("vec_id").agg(
        F.sqrt(
            F.sum((F.col("v") * F.col("v")).cast(D15)).cast("double")
        ).alias("nrm")
    )
    b = comp.select(
        F.col("vec_id").alias("idb"), F.col("k").alias("kb"), F.col("v").alias("vb")
    )
    dots = (
        comp.join(
            b, (F.col("kb") == F.col("k")) & (F.col("idb") > F.col("vec_id"))
        )
        .groupBy(F.col("vec_id").alias("ida"), "idb")
        .agg(
            F.sum((F.col("v") * F.col("vb")).cast(D15))
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("vec_id").alias("ida"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("idb"), F.col("nrm").alias("nb"))
    cos = (
        dots.join(F.broadcast(na), "ida")
        .join(F.broadcast(nb), "idb")
        .select((F.col("dot") / (F.col("na") * F.col("nb"))).alias("c"))
    )
    nv = emb.agg(bcount("n_vectors"))
    return cos.agg(
        bcount("n_pairs"),
        F.round(
            F.sum(F.col("c").cast(D15)).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_cosine"),
        F.round(
            F.sum(F.abs("c").cast(D15)).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_abs_cosine"),
        F.round(
            F.sum(F.when(F.col("c") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("share_positive"),
    ).crossJoin(F.broadcast(nv)).select(
        "n_vectors", "n_pairs", "mean_cosine", "mean_abs_cosine",
        "share_positive",
    )
