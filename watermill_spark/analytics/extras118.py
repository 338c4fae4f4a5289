"""Analytics batch 126: embedding-column preprocessing — per-dimension
standardization, Matryoshka truncation quality, and product-quantization
distortion.

Per-dimension standardization (zero mean, unit variance per coordinate)
is the routine pre-index transform that stops high-variance dimensions
from dominating L2 distances. Matryoshka-style truncation quality
measures how much cosine structure survives keeping only the first k
coordinates — the dimension-budget decision for MRL-trained embeddings.
Product quantization is THE billion-vector compression: split the vector
into subspaces, snap each to a small codebook, and the reconstruction
MSE is the fidelity/recall budget; here the codebook is the
deterministic sign-LSH cell centroid so both engines build the identical
codebook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register, spread
from .similarity import _plane_sign

_TRUNC_KS = (4, 8, 16)
_PQ_SUBSPACES = 2  # split dims into halves
_PQ_BITS = 3  # 8 cells per subspace


@register(
    "q_embedding_standardize",
    oracle="""
    WITH dims AS (
      SELECT u.g AS dim, CAST(embedding[u.g] AS DOUBLE) AS v
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS g) u
    ),
    mom AS (
      SELECT dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM dims GROUP BY 1
    ),
    devs AS (
      SELECT d.dim, m.n, m.mu,
             CAST(SUM(CAST((d.v - m.mu) * (d.v - m.mu) AS DECIMAL(38,15)))
                  AS DOUBLE) / m.n AS var
      FROM dims d JOIN mom m ON m.dim = d.dim
      GROUP BY d.dim, m.n, m.mu
    )
    SELECT CAST(dim AS BIGINT) AS dim, n AS n_vectors,
           round(mu, 6) AS mean,
           round(sqrt(var), 6) AS std,
           round(mu / sqrt(var), 6) AS snr
    FROM devs ORDER BY dim
    """,
)
def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization statistics for the embedding column:
    mean, std and their ratio (a "bias" SNR) for every coordinate — the
    fit step of the z-score transform applied before L2 indexing, and
    the diagnostic that reveals dominating or dead dimensions
    (complements q_embedding_norms' per-vector view and
    q_embedding_drift's per-batch view with the per-DIMENSION one).
    Applying the transform downstream is a narrow `F.transform` over the
    array with this table broadcast.

    Determinism: dimension sums ride DECIMAL(38,15); variance is
    two-pass (cancellation-free).

    Scale: one positional explode (narrow), one per-dim rollup with
    map-side combine — dimension count is constant, so the aggregate is
    |dims| rows regardless of corpus size. §2.B [NS] / LLM-pipeline
    surface.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dims = emb.select(
        F.posexplode("e").alias("p", "v")
    ).select((F.col("p") + 1).alias("dim"), "v")
    mom = dims.groupBy("dim").agg(
        bcount("n"),
        (F.sum(F.col("v").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
    )
    devs = (
        dims.join(F.broadcast(mom), "dim")
        .groupBy("dim", "n", "mu")
        .agg(
            (
                F.sum(
                    ((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu"))).cast(
                        D15
                    )
                ).cast("double")
                / F.col("n")
            ).alias("var")
        )
    )
    return devs.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("n").alias("n_vectors"),
        F.round("mu", 6).alias("mean"),
        F.round(F.sqrt("var"), 6).alias("std"),
        F.round(F.col("mu") / F.sqrt("var"), 6).alias("snr"),
    ).orderBy("dim")


@register(
    "q_matryoshka_truncation",
    oracle=f"""
    WITH pts AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             md5(CAST(vec_id AS VARCHAR)) AS h
      FROM embeddings
    ),
    sample AS MATERIALIZED (
      SELECT vec_id, e,
             CAST(row_number() OVER (ORDER BY h, vec_id) AS BIGINT) AS rn
      FROM pts ORDER BY h, vec_id LIMIT 40
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib, a.e AS ea, b.e AS eb
      FROM sample a JOIN sample b ON b.rn = a.rn + 20 AND a.rn <= 20
    ),
    ks AS (SELECT unnest(ARRAY{list(_TRUNC_KS)}) AS k),
    scored AS (
      SELECT k.k,
             round(list_cosine_similarity(p.ea, p.eb), 6) AS cfull,
             round(list_cosine_similarity(p.ea[1:k.k], p.eb[1:k.k]), 6)
               AS ctrunc
      FROM pairs p, ks k
    )
    SELECT CAST(k AS BIGINT) AS keep_dims,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(abs(cfull - ctrunc) AS DECIMAL(38,15)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_abs_cos_err,
           round(MAX(abs(cfull - ctrunc)), 6) AS max_abs_cos_err
    FROM scored
    GROUP BY k
    ORDER BY keep_dims
    """,
)
def q_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality: on 20 md5-rank-sampled vector pairs,
    compare full-dimensional cosine similarity against the cosine of the
    FIRST k coordinates (k = 4, 8, 16) — mean/max absolute error per k.
    This is the dimension-budget curve for MRL-style embeddings (serve
    k dims, rescore with full dims), deciding how small the ANN index's
    vectors can be before q_ann_lsh_hyperplane/q_knn_ivf recall decays.

    Determinism: the pair sample is a total (md5, id) order; cosines are
    rounded to 6dp before differencing; error sums ride DECIMAL(38,15).

    Scale: the quality probe is sample-bounded by construction (its
    production form runs on a fixed audit sample, not the corpus); the
    truncation itself is a narrow slice. §2.B [NS] / LLM-pipeline
    surface.
    """
    from .similarity import cosine

    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    )
    sample = (
        emb.orderBy("h", "vec_id")
        .limit(40)
        .select(
            "vec_id",
            "e",
            F.row_number().over(Window.orderBy("h", "vec_id")).cast("bigint").alias("rn"),
        )
        .localCheckpoint(eager=True)
    )
    a = sample.filter(F.col("rn") <= 20).select(
        F.col("rn").alias("arn"), F.col("e").alias("ea")
    )
    b = sample.select((F.col("rn") - 20).alias("brn"), F.col("e").alias("eb"))
    pairs = a.join(b, F.col("brn") == F.col("arn"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _TRUNC_KS])).alias("k")
    )
    cfull = F.round(cosine("ea", "eb"), 6)
    ctrunc = F.round(
        cosine(F.expr("slice(ea, 1, k)"), F.expr("slice(eb, 1, k)")), 6
    )
    scored = pairs.crossJoin(F.broadcast(ks)).select(
        "k", cfull.alias("cfull"), ctrunc.alias("ctrunc")
    )
    return (
        scored.groupBy("k")
        .agg(
            bcount("n_pairs"),
            F.round(
                F.sum(F.abs(F.col("cfull") - F.col("ctrunc")).cast(D15)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_abs_cos_err"),
            F.round(F.max(F.abs(F.col("cfull") - F.col("ctrunc"))), 6).alias(
                "max_abs_cos_err"
            ),
        )
        .select(
            F.col("k").cast("bigint").alias("keep_dims"),
            "n_pairs",
            "mean_abs_cos_err",
            "max_abs_cos_err",
        )
        .orderBy("keep_dims")
    )


def _pq_cell_sql(half: str, offset: int) -> str:
    """Sign-LSH cell id of a subvector (3 planes) — mirrors _plane_sign."""
    from .similarity import _MOD, _P1, _P2

    return f"""
  CAST(list_sum(list_transform(range(0,{_PQ_BITS}), j ->
    CASE WHEN round(list_sum(list_transform(
           range(1, len({half}) + 1), d ->
           CAST({half}[d] AS DOUBLE) *
           (CASE WHEN (((j + {10 + offset})*{_P1} + (d-1)*{_P2}) % {_MOD}) % 2 = 0
                 THEN 1.0 ELSE -1.0 END))), 6) >= 0
    THEN (1 << j) ELSE 0 END)) AS BIGINT)
"""


@register(
    "q_pq_distortion",
    oracle=f"""
    WITH halves AS MATERIALIZED (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[])[1:len(embedding)//2] AS h0,
             CAST(embedding AS DOUBLE[])[len(embedding)//2 + 1:len(embedding)]
               AS h1
      FROM embeddings
    ),
    coded AS MATERIALIZED (
      SELECT vec_id, h0, h1,
             {_pq_cell_sql('h0', 0)} AS c0,
             {_pq_cell_sql('h1', 100)} AS c1
      FROM halves
    ),
    cents0 AS (
      SELECT c0, u.g AS dim,
             CAST(SUM(CAST(h0[u.g] AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM coded, LATERAL (SELECT unnest(range(1, len(h0) + 1)) AS g) u
      GROUP BY c0, u.g
    ),
    cents1 AS (
      SELECT c1, u.g AS dim,
             CAST(SUM(CAST(h1[u.g] AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM coded, LATERAL (SELECT unnest(range(1, len(h1) + 1)) AS g) u
      GROUP BY c1, u.g
    ),
    err0 AS (
      SELECT c.vec_id,
             CAST(SUM(CAST((c.h0[s.dim] - s.mu) * (c.h0[s.dim] - s.mu)
                           AS DECIMAL(38,15))) AS DOUBLE) AS se
      FROM coded c JOIN cents0 s ON s.c0 = c.c0
      GROUP BY c.vec_id
    ),
    err1 AS (
      SELECT c.vec_id,
             CAST(SUM(CAST((c.h1[s.dim] - s.mu) * (c.h1[s.dim] - s.mu)
                           AS DECIMAL(38,15))) AS DOUBLE) AS se
      FROM coded c JOIN cents1 s ON s.c1 = c.c1
      GROUP BY c.vec_id
    ),
    norms AS (
      SELECT h.vec_id,
             CAST(list_sum(list_transform(h.h0, x -> CAST(x * x AS DECIMAL(38,15))))
                  + list_sum(list_transform(h.h1, x -> CAST(x * x AS DECIMAL(38,15))))
                  AS DOUBLE) AS sq
      FROM halves h
    )
    SELECT (SELECT CAST(COUNT(DISTINCT c0) AS BIGINT) FROM coded) AS cells_sub0,
           (SELECT CAST(COUNT(DISTINCT c1) AS BIGINT) FROM coded) AS cells_sub1,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           round(CAST(SUM(CAST(e0.se + e1.se AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mse_per_vector,
           round(CAST(SUM(CAST(e0.se + e1.se AS DECIMAL(38,15))) AS DOUBLE)
                 / CAST(SUM(CAST(n.sq AS DECIMAL(38,15))) AS DOUBLE), 6)
             AS relative_distortion
    FROM err0 e0
    JOIN err1 e1 ON e1.vec_id = e0.vec_id
    JOIN norms n ON n.vec_id = e0.vec_id
    """,
)
def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization distortion audit: the embedding splits into 2
    half-dimension subspaces, each snapped to its deterministic sign-LSH
    cell (3 planes → ≤8 codewords per subspace, seeds disjoint from the
    ANN index's); codewords are cell centroids, and the report gives the
    reconstruction MSE per vector and the relative distortion
    (MSE / mean squared norm) — the fidelity budget that governs
    PQ-compressed ANN recall at the billion-vector scale. Deterministic
    twin of k-means-codebook PQ: both engines build bit-identical
    codebooks, so the distortion numbers hash-match.

    Determinism: cell ids round the plane dot to 6dp before the sign
    test (similarity.py trick); centroid sums and error sums ride
    DECIMAL(38,15).

    Scale: two narrow cell-stamp passes, per-(cell, dim) centroid
    rollups (≤8×|dims| rows), one re-join for errors — all equi-joins
    on tiny keys; no pairwise anything. §2.B [NS] / LLM-pipeline
    surface.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    halves = emb.select(
        "vec_id",
        F.expr("slice(e, 1, CAST(floor(size(e) / 2) AS INT))").alias("h0"),
        F.expr("slice(e, CAST(floor(size(e) / 2) AS INT) + 1, size(e))").alias(
            "h1"
        ),
    )

    def cell(col: str, offset: int):
        # Python-loop over bits: the plane index j+10+offset times _P1
        # exceeds int32, so it must fold as a Python int, not a Column
        def mk(jj):
            return lambda x, i: x * _plane_sign(jj + 10 + offset, i)

        total = F.lit(0).cast("long")
        for j in range(_PQ_BITS):
            dot = F.aggregate(
                F.transform(F.col(col), mk(j)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            total = total + F.when(
                F.round(dot, 6) >= 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return total

    coded = halves.select(
        "vec_id", "h0", "h1", cell("h0", 0).alias("c0"), cell("h1", 100).alias("c1")
    ).localCheckpoint(eager=True)

    def cents(ccol: str, hcol: str):
        return (
            coded.select(ccol, F.posexplode(hcol).alias("p", "v"))
            .select(ccol, (F.col("p") + 1).alias("dim"), "v")
            .groupBy(ccol, "dim")
            .agg(
                (
                    F.sum(F.col("v").cast(D15)).cast("double")
                    / F.count(F.lit(1))
                ).alias("mu")
            )
        )

    def errs(ccol: str, hcol: str, cdf):
        return (
            coded.select("vec_id", ccol, F.posexplode(hcol).alias("p", "v"))
            .select("vec_id", ccol, (F.col("p") + 1).alias("dim"), "v")
            .join(F.broadcast(cdf), [ccol, "dim"])
            .groupBy("vec_id")
            .agg(
                F.sum(((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu"))).cast(D15))
                .cast("double")
                .alias("se")
            )
        )

    e0 = errs("c0", "h0", cents("c0", "h0")).select(
        "vec_id", F.col("se").alias("se0")
    )
    e1 = errs("c1", "h1", cents("c1", "h1")).select(
        F.col("vec_id").alias("vid1"), F.col("se").alias("se1")
    )
    # exact decimal fold: v fits (20,15), acc (30,15); each merge lands in
    # (31,15) and casts back losslessly — Spark's (38,15)+(38,15) would
    # silently drop to scale 14
    def dsum_arr(col):
        return F.aggregate(
            F.transform(F.col(col), lambda x: (x * x).cast("decimal(20,15)")),
            F.lit(0).cast("decimal(30,15)"),
            lambda acc, v: (acc + v).cast("decimal(30,15)"),
        )

    sq = dsum_arr("h0") + dsum_arr("h1")
    norms = halves.select("vec_id", sq.cast("double").alias("sq"))
    ncells = coded.agg(
        F.count_distinct("c0").cast("bigint").alias("cells_sub0"),
        F.count_distinct("c1").cast("bigint").alias("cells_sub1"),
    )
    joined = (
        e0.join(e1, F.col("vid1") == F.col("vec_id"))
        .join(norms.select(F.col("vec_id").alias("vidn"), "sq"), F.col("vidn") == F.col("vec_id"))
    )
    return (
        joined.agg(
            bcount("n_vectors"),
            (
                F.sum((F.col("se0") + F.col("se1")).cast(D15)).cast("double")
                / F.count(F.lit(1))
            ).alias("mse"),
            (
                F.sum((F.col("se0") + F.col("se1")).cast(D15)).cast("double")
                / F.sum(F.col("sq").cast(D15)).cast("double")
            ).alias("rel"),
        )
        .crossJoin(F.broadcast(ncells))
        .select(
            "cells_sub0",
            "cells_sub1",
            "n_vectors",
            F.round("mse", 6).alias("mse_per_vector"),
            F.round("rel", 6).alias("relative_distortion"),
        )
    )
