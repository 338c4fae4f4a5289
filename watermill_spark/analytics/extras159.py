"""Analytics batch 167: IVF probe sweep, reciprocal rank fusion, and an
embedding outlier scan.

The probe sweep is the tuning curve behind every IVF deployment —
recall@K vs fraction of corpus scanned as n_probe grows — turning
q_knn_ivf's single operating point into the recall/cost frontier the
operator actually chooses from. RRF is the standard zero-training
fusion of two retrieval rankings (cosine + L2 here), the trick that
wins hybrid-search benchmarks with one formula. The outlier scan flags
vectors far from the corpus centroid — embedding-space data QA
(corrupted inputs land far out) feeding the dedup/similarity mandate.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B similarity-search mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register
from .similarity import N_QUERIES

_STRIDE = 200  # centroid stride (q_knn_ivf convention)
_K = 5

_SQL_COS_QC = (
    "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),"
    " CAST(c.embedding AS DOUBLE[])), 6)"
)


@register(
    "q_ivf_probe_sweep",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id % {_STRIDE} = 0
    ),
    ranked AS (
      SELECT e.vec_id, e.embedding, cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_dot_product(CAST(e.embedding
                        AS DOUBLE[]), cvec), 6) DESC, cell_id) AS rn
      FROM embeddings e CROSS JOIN cents
    ),
    cells AS (
      SELECT vec_id, embedding, cell_id FROM ranked WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, embedding, cell_id, rn
      FROM ranked WHERE vec_id < {N_QUERIES} AND rn <= 4
    ),
    probes AS (SELECT CAST(p AS BIGINT) AS n_probe
               FROM (VALUES (1), (2), (4)) AS v(p)),
    cand AS (
      SELECT pr.n_probe, q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS_QC} AS sim
      FROM probes pr
      JOIN qprobe q ON q.rn <= pr.n_probe
      JOIN cells c ON c.cell_id = q.cell_id
      WHERE c.vec_id <> q.query_id
    ),
    ivf_top AS (
      SELECT n_probe, query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY n_probe, query_id
              ORDER BY sim DESC, neighbor_id) AS rk FROM cand)
      WHERE rk <= {_K}
    ),
    truth AS (
      SELECT query_id, neighbor_id
      FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY {_SQL_COS_QC} DESC, c.vec_id) AS rk
            FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN embeddings c WHERE c.vec_id <> q.vec_id)
      WHERE rk <= {_K}
    ),
    hits AS (
      SELECT i.n_probe, i.query_id,
             CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hit
      FROM ivf_top i
      LEFT JOIN truth t ON t.query_id = i.query_id
                       AND t.neighbor_id = i.neighbor_id
      GROUP BY 1, 2
    ),
    scanned AS (
      SELECT n_probe, query_id, CAST(COUNT(*) AS BIGINT) AS n_cand
      FROM cand GROUP BY 1, 2
    ),
    db AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_db FROM embeddings)
    SELECT h.n_probe,
           round(CAST(SUM(h.n_hit) AS DOUBLE) / ({_K} * {N_QUERIES}), 6)
             AS avg_recall_at_{_K},
           round(CAST(SUM(s.n_cand) AS DOUBLE) / {N_QUERIES}, 2)
             AS avg_candidates,
           round(CAST(SUM(s.n_cand) AS DOUBLE)
                 / ({N_QUERIES} * (SELECT n_db FROM db)) * 100.0, 4)
             AS scan_pct
    FROM hits h JOIN scanned s
      ON s.n_probe = h.n_probe AND s.query_id = h.query_id
    GROUP BY h.n_probe ORDER BY h.n_probe
    """,
)
def q_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: recall@5 and corpus-scan fraction as n_probe
    grows over {1, 2, 4} probed cells — the recall/cost frontier an ANN
    operator reads before fixing q_knn_ivf's single operating point
    (probing 4 of ~n/200 cells should recover most of the brute-force
    top-5 while scanning a few percent of the corpus).

    Determinism: cell assignment and probe order use rounded dots with
    cell-id tiebreaks (the q_knn_ivf convention); recall counts are
    integers; all three probe settings share one plan via the probe
    dimension (the q_placebo_cutpoints sharing trick).

    Scale: centroids broadcast; candidates are cell-equi-joined (the
    scan fraction IS the measured cost); truth is the quarantined
    bounded brute-force oracle over fixed queries. §2.B similarity
    mandate [NS].
    """
    from .similarity import _dot

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    cents = emb.filter(F.col("vec_id") % _STRIDE == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("emb").alias("cvec")
    )
    dot = F.aggregate(
        F.zip_with("emb", "cvec", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    ranked = emb.join(F.broadcast(cents)).select(
        "vec_id",
        "emb",
        "nrm",
        "cell_id",
        F.row_number()
        .over(
            Window.partitionBy("vec_id").orderBy(
                F.round(dot, 6).desc(), "cell_id"
            )
        )
        .alias("rn"),
    )
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "emb", "cell_id", "nrm"
    )
    qprobe = ranked.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("rn") <= 4)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("cell_id").alias("q_cell"),
        F.col("rn").alias("probe_rank"),
        F.col("nrm").alias("q_n"),
    )
    probes = spark.createDataFrame([(1,), (2,), (4,)], "n_probe long")
    cand = (
        qprobe.crossJoin(F.broadcast(probes))
        .filter(F.col("probe_rank") <= F.col("n_probe"))
        .join(
            cells,
            (F.col("cell_id") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "n_probe",
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            # per-side norms precomputed before the cell join (r6)
            F.round(_dot("q_emb", "emb") / (F.col("q_n") * F.col("nrm")), 6).alias("sim"),
        )
    ).localCheckpoint(eager=True)
    wk = Window.partitionBy("n_probe", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    ivf_top = (
        cand.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _K)
        .select("n_probe", "query_id", "neighbor_id")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_n"),
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    truth = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot("q_emb", "emb") / (F.col("q_n") * F.col("nrm")), 6).alias("sim"),
        )
        .withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= _K)
        .select("query_id", F.col("neighbor_id").alias("t_neighbor"))
    )
    hits = (
        ivf_top.join(
            F.broadcast(truth),
            (ivf_top.query_id == truth.query_id)
            & (F.col("neighbor_id") == F.col("t_neighbor")),
            "left",
        )
        .groupBy("n_probe", ivf_top.query_id)
        .agg(F.count("t_neighbor").cast("bigint").alias("n_hit"))
    )
    scanned = cand.groupBy("n_probe", "query_id").agg(bcount("n_cand"))
    ndb = emb.agg(bcount("n_db"))
    return (
        hits.join(scanned, ["n_probe", "query_id"])
        .groupBy("n_probe")
        .agg(
            F.sum("n_hit").cast("bigint").alias("hits"),
            F.sum("n_cand").cast("bigint").alias("cands"),
        )
        .crossJoin(F.broadcast(ndb))
        .select(
            "n_probe",
            F.round(
                F.col("hits").cast("double") / (_K * N_QUERIES), 6
            ).alias(f"avg_recall_at_{_K}"),
            F.round(F.col("cands").cast("double") / N_QUERIES, 2).alias(
                "avg_candidates"
            ),
            F.round(
                F.col("cands").cast("double") / (N_QUERIES * F.col("n_db"))
                * 100.0,
                4,
            ).alias("scan_pct"),
        )
        .orderBy("n_probe")
    )


@register(
    "q_reciprocal_rank_fusion",
    oracle=f"""
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    db AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim,
             round(list_distance(q.e, c.e), 6) AS l2_dist
      FROM q CROSS JOIN db c WHERE c.vec_id <> q.vec_id
    ),
    ranks AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS BIGINT)
               AS cos_rank,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY l2_dist ASC, neighbor_id) AS BIGINT)
               AS l2_rank
      FROM scored
    ),
    fused AS (
      SELECT query_id, neighbor_id, cos_rank, l2_rank,
             1.0 / (60 + cos_rank) + 1.0 / (60 + l2_rank) AS rrf,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY 1.0 / (60 + cos_rank) + 1.0 / (60 + l2_rank)
                        DESC, neighbor_id) AS rk
      FROM ranks
    )
    SELECT query_id, neighbor_id, cos_rank, l2_rank,
           round(rrf, 6) AS rrf_score
    FROM fused WHERE rk <= {_K}
    ORDER BY query_id, rrf_score DESC, neighbor_id
    """,
)
def q_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion of two retrieval rankings (cosine
    similarity and L2 distance) per query: RRF(d) = Σ_r 1/(60 +
    rank_r(d)), fused top-5 with both source ranks shown — the
    zero-training hybrid-search combiner (the formula that fuses BM25 +
    dense retrieval in production systems), here exercised on two
    dense rankings that agree only when vectors share norms.

    Determinism: both rankings carry neighbor-id tiebreaks over rounded
    scores; RRF is exact rational arithmetic on integer ranks.

    Scale: ranking is the quarantined bounded brute-force pass over
    fixed queries (the production path fuses two ANN candidate lists);
    fusion itself is rank arithmetic + one window. §2.B similarity
    mandate [NS].
    """
    from .similarity import _dot

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_n"),
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("q_emb", "emb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            # per-side norms precomputed before the pair join (r6)
            F.round(_dot("q_emb", "emb") / (F.col("q_n") * F.col("nrm")), 6).alias("cos_sim"),
            F.round(l2, 6).alias("l2_dist"),
        )
    )
    ranks = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.col("cos_sim").desc(), "neighbor_id"
            )
        )
        .cast("bigint")
        .alias("cos_rank"),
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.col("l2_dist").asc(), "neighbor_id"
            )
        )
        .cast("bigint")
        .alias("l2_rank"),
    )
    rrf = 1.0 / (60 + F.col("cos_rank")) + 1.0 / (60 + F.col("l2_rank"))
    fused = ranks.select(
        "query_id",
        "neighbor_id",
        "cos_rank",
        "l2_rank",
        rrf.alias("rrf"),
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                rrf.desc(), "neighbor_id"
            )
        )
        .alias("rk"),
    )
    return (
        fused.filter(F.col("rk") <= _K)
        .select(
            "query_id",
            "neighbor_id",
            "cos_rank",
            "l2_rank",
            F.round("rrf", 6).alias("rrf_score"),
        )
        .orderBy("query_id", F.col("rrf_score").desc(), "neighbor_id")
    )


@register(
    "q_embedding_outlier_scan",
    oracle="""
    WITH comp AS (
      SELECT vec_id, CAST(k AS BIGINT) AS k,
             CAST(embedding[CAST(k AS INTEGER)] AS DOUBLE) AS v
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(k)
    ),
    centroid AS (
      SELECT k, CAST(SUM(CAST(v AS DECIMAL(38,15))) AS DOUBLE)
                / COUNT(*) AS c
      FROM comp GROUP BY 1
    ),
    dists AS (
      SELECT p.vec_id,
             sqrt(CAST(SUM(CAST((p.v - c.c) * (p.v - c.c)
                  AS DECIMAL(38,15))) AS DOUBLE)) AS dist
      FROM comp p JOIN centroid c ON c.k = p.k
      GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(dist AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(dist * dist AS DECIMAL(38,10))) AS DOUBLE)
               AS ss
      FROM dists
    ),
    z AS (
      SELECT d.vec_id, d.dist,
             (d.dist - m.s / m.n)
             / sqrt((m.ss - m.s * m.s / m.n) / (m.n - 1.0)) AS z
      FROM dists d, mom m
    )
    SELECT CAST((SELECT n FROM mom) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN z > 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_beyond_3sd,
           CAST(MAX(CASE WHEN z = (SELECT MAX(z) FROM z) THEN vec_id END)
                AS BIGINT) AS worst_vec_id,
           round(MAX(z), 6) AS worst_z,
           round(MAX(dist), 6) AS worst_dist
    FROM z
    """,
)
def q_embedding_outlier_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier scan: distance of every vector to the corpus
    centroid (exact per-dimension decimal means), z-scored against the
    distance distribution; reports the count beyond 3σ and the worst
    offender — corrupted or out-of-domain inputs land far from the
    centroid, so this is the embedding-space QA gate run before the
    dedup/similarity operators trust the space.

    Determinism: centroid and distance moments are decimal-exact sums
    over component-exploded doubles; the worst-vector pick compares
    unrounded z with a deterministic argmax form.

    Scale: two narrow passes over the (vec, dim) component grain with
    map-side combine; the 64-row centroid broadcasts. §2.B similarity
    mandate [NS].
    """
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("k0", "v0")
    ).select(
        "vec_id",
        (F.col("k0") + 1).cast("bigint").alias("k"),
        F.col("v0").cast("double").alias("v"),
    )
    # checkpointed once (r6): the centroid and the distance pass each
    # re-scanned+re-exploded embeddings, and the moment/z passes
    # re-derived the distances (4 scans in the plan); the component table
    # and the per-vector distances each materialize once
    comp = comp.localCheckpoint(eager=True)
    centroid = comp.groupBy("k").agg(
        (F.sum(F.col("v").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "c"
        )
    )
    dists = (
        comp.join(F.broadcast(centroid), "k")
        .groupBy("vec_id")
        .agg(
            F.sqrt(
                F.sum(
                    ((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).cast(
                        D15
                    )
                ).cast("double")
            ).alias("dist")
        )
    )
    dists = dists.localCheckpoint(eager=True)
    mom = dists.agg(
        bcount("n"),
        F.sum(F.col("dist").cast(D15)).cast("double").alias("s"),
        F.sum((F.col("dist") * F.col("dist")).cast("decimal(38,10)"))
        .cast("double")
        .alias("ss"),
    )
    z = dists.crossJoin(F.broadcast(mom)).select(
        "vec_id",
        "dist",
        (
            (F.col("dist") - F.col("s") / F.col("n"))
            / F.sqrt(
                (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1.0)
            )
        ).alias("z"),
        "n",
    )
    wall = Window.partitionBy()
    return (
        z.withColumn("zmax", F.max("z").over(wall))
        .agg(
            F.max("n").alias("n_vectors"),
            F.sum(F.when(F.col("z") > 3, 1).otherwise(0))
            .cast("bigint")
            .alias("n_beyond_3sd"),
            F.max(F.when(F.col("z") == F.col("zmax"), F.col("vec_id")))
            .cast("bigint")
            .alias("worst_vec_id"),
            F.round(F.max("z"), 6).alias("worst_z"),
            F.round(F.max("dist"), 6).alias("worst_dist"),
        )
        .select(
            "n_vectors", "n_beyond_3sd", "worst_vec_id", "worst_z",
            "worst_dist",
        )
    )
