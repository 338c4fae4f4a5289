"""Similarity search over the ``embeddings`` table (array<float> vectors).

Brute-force cosine top-k is the exactness baseline; the LSH/IVF-bucketed
variants are the scale path (candidate pruning before exact scoring).

Determinism: dot products are computed by a *sequential* left-to-right fold
(`F.aggregate` in Spark, `list_dot_product`-equivalent loop in DuckDB) over
DOUBLE-cast elements, so both engines produce bit-identical IEEE results;
ranking ties are broken by vec_id.

Scale design: the query set is tiny and broadcast; candidates stream through
a narrow map (no shuffle) into a per-query top-k (`row_number` ≤ k after one
shuffle on query_id — k rows kept per partition by WindowGroupLimit). For a
billion-vector corpus the IVF variant prunes to the nearest cells first, so
the exact scoring touches ~n_probe/n_cells of the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load, register, spread

K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors


def _dot(a: str | Column, b: str | Column) -> Column:
    """Sequential-fold dot product of two double arrays (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: str | Column, b: str | Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


_SQL_COSINE = (
    "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
)


@register(
    "q_knn_bruteforce",
    oracle=f"""
    SELECT query_id, neighbor_id, sim FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_SQL_COSINE}, 6) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY round({_SQL_COSINE}, 6) DESC, c.vec_id)
               AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN embeddings c
      WHERE c.vec_id <> q.vec_id)
    WHERE rn <= {K}
    """,
    bench=True,
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: exact ANN baseline.

    Plan: broadcast the query vectors, narrow map computing cosine against
    every corpus vector, per-query top-k via row_number. The only shuffle is
    the final tiny top-k window on query_id.

    Norms are precomputed per SIDE before the pair join (r6): cosine(q,c)
    re-derived sqrt(dot(q,q)) and sqrt(dot(c,c)) for every |Q|×|C| pair —
    3 array folds per pair where only the cross dot varies. Bit-identical:
    same expressions, same dot/(q_n*c_n) operand order, evaluated once per
    row instead of once per pair.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").cast("array<double>").alias("c_emb")
    ).withColumn("c_n", F.sqrt(_dot("c_emb", "c_emb")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("q_emb")
    ).withColumn("q_n", F.sqrt(_dot("q_emb", "q_emb")))
    sim = F.round(_dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .drop("rn")
    )


@register(
    "q_knn_by_label",
    oracle=f"""
    SELECT query_id, neighbor_id, sim FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_SQL_COSINE}, 6) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY round({_SQL_COSINE}, 6) DESC, c.vec_id)
               AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.vec_id)
    WHERE rn <= {K}
    """,
)
def q_knn_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned (IVF-style) ANN: restrict scoring to the query's cell.

    ``label`` stands in for an IVF cell id (at scale: nearest-centroid
    assignment, same plan shape). The equi-join on the cell id prunes the
    candidate set before exact scoring — the candidate scan reads
    ~1/n_cells of the corpus per query.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ).withColumn("c_n", F.sqrt(_dot("c_emb", "c_emb")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).withColumn("q_n", F.sqrt(_dot("q_emb", "q_emb")))
    # per-side norms precomputed before the join (see q_knn_bruteforce, r6)
    sim = F.round(_dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        corpus.join(
            F.broadcast(queries),
            (F.col("c_label") == F.col("q_label")) & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .drop("rn")
    )


NBITS = 8  # hyperplane count for the LSH signature
_P1, _P2, _MOD = 73856093, 19349663, 97  # deterministic pseudo-random plane signs


def _plane_sign(j, d):
    """±1 sign of hyperplane j at dimension d — pure integer arithmetic so
    Spark and DuckDB derive bit-identical planes with no shared RNG."""
    return F.when(((j * _P1 + d * _P2) % _MOD) % 2 == 0, F.lit(1.0)).otherwise(
        F.lit(-1.0)
    )


def lsh_bucket(emb: Column) -> Column:
    """Random-hyperplane LSH bucket id (NBITS sign bits packed into a long).

    bit j = sign(<v, plane_j>); planes are deterministic ±1 vectors. Vectors
    with small angle agree on most bits, so equal buckets ⇒ likely-near.
    The dot is rounded to 6 places before the sign test so float summation
    order can never flip a bit between engines.
    """
    def bit(j):
        dot = F.aggregate(
            F.transform(emb, lambda x, i: x * _plane_sign(j, i)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(
            F.round(dot, 6) >= 0, F.pow(F.lit(2.0), j).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(NBITS - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc + bit(j),
    )


_SQL_BUCKET = f"""
  CAST(list_sum(list_transform(range(0,{NBITS}), j ->
    CASE WHEN round(list_sum(list_transform(range(1, len(embedding)+1), d ->
           CAST(embedding[d] AS DOUBLE) *
           (CASE WHEN ((j*{_P1} + (d-1)*{_P2}) % {_MOD}) % 2 = 0
                 THEN 1.0 ELSE -1.0 END))), 6) >= 0
    THEN (1 << j) ELSE 0 END)) AS BIGINT)
"""


@register(
    "q_ann_lsh_hyperplane",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings)
    SELECT query_id, neighbor_id, bucket, sim FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
             round({_SQL_COSINE}, 6) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY round({_SQL_COSINE}, 6) DESC, c.vec_id)
               AS rn
      FROM (SELECT * FROM sig WHERE vec_id < {N_QUERIES}) q
      JOIN sig c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id)
    WHERE rn <= {K}
    """,
)
def q_ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane signatures prune candidates
    before exact cosine rescoring — the billion-vector scale path.

    Plan: one narrow map stamps every vector with an 8-bit hyperplane
    signature (pure JVM expression — no UDF, no shuffle), then candidates
    are equi-joined to the broadcast query set on the bucket id, exact-
    rescored, and top-k'd per query. The corpus is touched once; only
    same-bucket rows (~1/2^bits of all pairs per band) reach the scorer.
    At scale, multiple bands (repeat with different plane seeds, union)
    trade recall vs. cost exactly like MinHash LSH banding.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sig = emb.withColumn("bucket", lsh_bucket(F.col("emb")))
    corpus = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("c_bucket"),
        F.col("emb").alias("c_emb"),
    ).withColumn("c_n", F.sqrt(_dot("c_emb", "c_emb")))
    queries = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "bucket", F.col("emb").alias("q_emb")
    ).withColumn("q_n", F.sqrt(_dot("q_emb", "q_emb")))
    # per-side norms precomputed before the join (see q_knn_bruteforce, r6)
    sim = F.round(_dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        corpus.join(
            F.broadcast(queries),
            (F.col("c_bucket") == F.col("bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", "bucket", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .drop("rn")
    )


@register(
    "q_dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.40
    ORDER BY sim DESC, a_id, b_id
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact baseline).

    All (a < b) pairs with cosine ≥ threshold. This is the exactness oracle
    for embedding dedup; it is O(n²) by construction, so at 100 TB it is
    never run directly — the production path is `q_ann_lsh_hyperplane`'s
    bucket join (candidates = same-bucket pairs only) followed by this exact
    rescoring filter. Kept brute-force here because the oracle must be
    recall-perfect, and LSH pruning is probabilistic.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    a = emb.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").cast("array<double>").alias("a_emb")
    ).withColumn("a_n", F.sqrt(_dot("a_emb", "a_emb")))
    b = emb.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").cast("array<double>").alias("b_emb")
    ).withColumn("b_n", F.sqrt(_dot("b_emb", "b_emb")))
    # per-side norms precomputed before the O(n²) pair join (r6): 1 fold
    # per pair instead of 3, bit-identical dot/(a_n*b_n) operand order
    sim = F.round(_dot("a_emb", "b_emb") / (F.col("a_n") * F.col("b_n")), 6)
    return (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") >= 0.40)
        .orderBy(F.desc("sim"), "a_id", "b_id")
    )


@register(
    "q_embedding_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector norms + dimension audit (sanity surface for the ANN path)."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    e = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        "label",
        F.round(F.sqrt(_dot(e, e)), 6).alias("l2_norm"),
        F.size("embedding").cast("bigint").alias("dim"),
    )


# -- multi-table hyperplane banding (streaming near-dup + pair mining) -------

#: defaults calibrated to the synthetic corpus: its true near-dup pairs sit
#: at cosine 0.40-0.48 (θ ≈ 61-66°, per-plane agree-prob ≈ 0.63-0.66), so a
#: single long signature would never collide them. 16 tables × 4 bits gives
#: per-table collision ≈ 0.63⁴ ≈ 0.16 and overall recall ≈ 1-(1-0.16)¹⁶ ≈
#: 0.94 at the decision threshold. Production corpora with real near-dups
#: (cosine ≥ 0.9) raise N_BITS and the verify threshold together — the
#: recall math is the same banding trade MinHash-LSH makes.
N_TABLES = 16
N_BAND_BITS = 4


def hyperplane_bands(
    emb: Column, n_tables: int = N_TABLES, n_bits: int | Column = N_BAND_BITS
) -> Column:
    """array<struct<band_idx int, band_key long>> — one packed-sign-bit key
    per hash table, by BIT-SAMPLING LSH (Indyk–Motwani): bit (t, b) is the
    sign of coordinate d(t,b) = (t*_P1 + b*_P2) mod dim — an axis-aligned
    hyperplane chosen by deterministic integer arithmetic, so Spark and
    DuckDB derive bit-identical bands with no shared RNG.

    Why axis-aligned instead of `lsh_bucket`'s ±1-plane dots: (1) cost — one
    element_at + compare per bit instead of a dim-term dot, which keeps the
    banding ~dim× cheaper in Catalyst's interpreted higher-order-function
    path (measured: the dot form needed ~8 ms/row at 16 tables × 15 bits,
    stalling the sf5 sweep; this form is sub-µs); (2) determinism — the sign
    test reads a STORED value with no arithmetic before it, so there is no
    float-summation-order hazard at all, stronger than the round-to-6
    guard. For centered, roughly isotropic coordinates the per-bit
    agreement probability is the same 1 − θ/π as a random hyperplane (sign
    agreement of a bivariate normal), so the banding recall math is
    unchanged; when n_tables·n_bits exceeds dim, axes repeat across tables
    and table independence degrades gracefully (documented LSH trade).

    ``n_bits`` may be a Column (e.g. a corpus-size-derived width broadcast
    from a 1-row aggregate) — that is how `q_dedup_embedding_lsh_pairs`
    keeps expected bucket occupancy O(1) at any corpus size.

    Pure nested higher-order JVM expression — no UDF, no shuffle: the 100-TB
    cost is one narrow map over the vectors.
    """
    nb = F.lit(n_bits).cast("long") if isinstance(n_bits, int) else n_bits.cast("long")
    dim = F.size(emb).cast("long")

    def key(t: Column) -> Column:
        def bit(b: Column) -> Column:
            d = (t.cast("long") * _P1 + b.cast("long") * _P2) % dim
            return F.when(
                F.element_at(emb, (d + 1).cast("int")) >= 0,
                F.pow(F.lit(2.0), b).cast("long"),
            ).otherwise(F.lit(0).cast("long"))

        return F.aggregate(
            F.sequence(F.lit(0), (nb - 1).cast("int")),
            F.lit(0).cast("long"),
            lambda acc, b: acc + bit(b),
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(
            t.cast("int").alias("band_idx"), key(t).alias("band_key")
        ),
    )


def sql_hyperplane_bands(n_tables: int = N_TABLES, n_bits: int | str = N_BAND_BITS) -> str:
    """DuckDB mirror of `hyperplane_bands`, as a lateral-join fragment:
    emits (band_idx, band_key) per input row given a lateral `range(0,{n})
    r(t)`. Generated from the SAME constants so the two engines cannot
    drift (the ADVICE-r4 lesson from diagnostic_doc_sample's SQL mirror).
    ``n_bits`` may be a SQL expression string (e.g. ``p.nb`` from a 1-row
    CTE) — the adaptive-width mirror.
    """
    return f"""
      CAST(r.t AS INTEGER) AS band_idx,
      CAST(list_sum(list_transform(range(0,{n_bits}), b ->
        CASE WHEN embedding[CAST((r.t*{_P1} + b*{_P2}) % len(embedding) AS INT) + 1] >= 0
        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS band_key
    """


EMB_DEDUP_TAU = 0.40  # corpus-calibrated: matches q_dedup_embedding_cosine

#: single-bit multiprobe fan-out: per table, also probe the n buckets
#: reached by flipping one of the n lowest-|margin| sign bits (the bits a
#: true near-neighbor is most likely to disagree on). Candidate volume
#: grows ×(1+n) on the probing side; per-table collision probability for
#: a pair with per-bit agreement p rises from p^nb toward
#: p^nb + n·p^(nb-1)(1-p) — the standard first-order multiprobe recovery
#: for the recall that adaptive nb growth costs (r5 verdict item 1).
N_PROBES = 2


def hyperplane_bands_multiprobe(
    emb: Column,
    n_tables: int = N_TABLES,
    n_bits: int | Column = N_BAND_BITS,
    n_probes: int = N_PROBES,
) -> Column:
    """array<struct<band_idx int, band_key long, is_probe boolean>> — the
    multiprobe extension of `hyperplane_bands`: per table, the base packed
    sign-bit key (is_probe=false) plus ``n_probes`` probe keys
    (is_probe=true), each flipping ONE of the lowest-|margin| bits, where a
    bit's margin is |emb[d(t,b)]| — the stored coordinate the sign test
    reads, so the bits nearest zero are the ones a true near-neighbor most
    likely flips (Lv et al., multi-probe LSH, VLDB'07, first-order probes).

    The candidate relation is DIRECTIONAL by construction: a pair collides
    when the PROBING side's base-or-probe key equals the other side's BASE
    key — the registry/owner side stays base-only, so a persistent bucket
    registry keeps its exact size while the query side pays the ×(1+n)
    fan-out. Under id-ordered arrival the probing side is always the
    larger id, which keeps the streaming filter's slicing-invariance
    contract intact (`streaming/dedup.py`).

    Margin ties break by bit index — both engines sort (|margin|, b)
    structs lexicographically, so probe choice is deterministic and
    cross-engine identical (no arithmetic before |·| of a stored value).
    Same pure-JVM higher-order-expression cost model as the base banding:
    one narrow map, no UDF, no shuffle.
    """
    nb = F.lit(n_bits).cast("long") if isinstance(n_bits, int) else n_bits.cast("long")
    dim = F.size(emb).cast("long")

    def val(t: Column, b: Column) -> Column:
        d = (t.cast("long") * _P1 + b.cast("long") * _P2) % dim
        return F.element_at(emb, (d + 1).cast("int"))

    def base_key(t: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), (nb - 1).cast("int")),
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(val(t, b) >= 0, F.pow(F.lit(2.0), b).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        )

    def probe_bits(t: Column) -> Column:
        margins = F.transform(
            F.sequence(F.lit(0), (nb - 1).cast("int")),
            lambda b: F.struct(
                F.abs(val(t, b)).alias("m"), b.cast("int").alias("b")
            ),
        )
        return F.transform(
            F.slice(F.array_sort(margins), 1, n_probes), lambda s: s["b"]
        )

    def per_table(t: Column) -> Column:
        key = base_key(t)
        base = F.array(
            F.struct(
                t.cast("int").alias("band_idx"),
                key.alias("band_key"),
                F.lit(False).alias("is_probe"),
            )
        )
        probes = F.transform(
            probe_bits(t),
            lambda b: F.struct(
                t.cast("int").alias("band_idx"),
                key.bitwiseXOR(F.pow(F.lit(2.0), b).cast("long")).alias(
                    "band_key"
                ),
                F.lit(True).alias("is_probe"),
            ),
        )
        return F.concat(base, probes)

    return F.flatten(
        F.transform(F.sequence(F.lit(0), F.lit(n_tables - 1)), per_table)
    )


def sql_hyperplane_bands_multiprobe(
    n_tables: int = N_TABLES,
    n_bits: int | str = N_BAND_BITS,
    n_probes: int = N_PROBES,
) -> str:
    """DuckDB mirror of `hyperplane_bands_multiprobe` as a lateral-join
    fragment (given ``range(0,{n_tables}) r(t)``): emits one
    {'band_key','is_probe'} struct list per (row, t) — unnest it to get
    (band_idx, band) rows. Generated from the same constants as the Spark
    side so the engines cannot drift."""
    base = f"""CAST(list_sum(list_transform(range(0,{n_bits}), b ->
        CASE WHEN embedding[CAST((r.t*{_P1} + b*{_P2}) % len(embedding) AS INT) + 1] >= 0
        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)"""
    probe_bits = f"""list_transform(list_slice(list_sort(
        list_transform(range(0,{n_bits}), b ->
          {{'m': abs(embedding[CAST((r.t*{_P1} + b*{_P2}) % len(embedding) AS INT) + 1]),
            'b': b}})), 1, {n_probes}), s -> s.b)"""
    return f"""
      CAST(r.t AS INTEGER) AS band_idx,
      list_concat(
        [{{'band_key': {base}, 'is_probe': false}}],
        list_transform({probe_bits}, pb ->
          {{'band_key': xor({base}, (CAST(1 AS BIGINT) << pb)), 'is_probe': true}})
      ) AS bands
    """

#: adaptive band width: expected bucket occupancy n/2^nb stays O(1) at any
#: corpus size, so the band self-join's candidate volume is O(n · tables),
#: never n²/2^const. The price is recall at a FIXED similarity threshold
#: decaying as the corpus grows (p_agree^nb per table) — the fundamental
#: LSH trade; production pins nb to the target corpus size and raises the
#: threshold in step. Both engines derive nb from the same COUNT, so
#: parity is exact at every SF. Capped at 62 so the packed sign-bit key
#: never shifts past BIGINT (1 << b with b <= 61); past 2^62 rows the key
#: saturates instead of overflowing — both engines apply the same cap.
_SQL_NB = "LEAST(62, GREATEST(4, CAST(ceil(log2(count(*))) AS INT)))"


def _nb_col() -> Column:
    return F.least(
        F.lit(62), F.greatest(F.lit(4), F.ceil(F.log2(F.count(F.lit(1)))))
    ).cast("int")


@register(
    "q_dedup_embedding_lsh_pairs",
    oracle=f"""
    WITH p AS (SELECT {_SQL_NB} AS nb FROM embeddings),
    bands AS (
      SELECT vec_id, {sql_hyperplane_bands(n_bits="p.nb")}
      FROM embeddings, p, range(0,{N_TABLES}) r(t)),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.vec_id < b.vec_id)
    SELECT a_id, b_id,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = a_id
    JOIN embeddings eb ON eb.vec_id = b_id
    WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 6)
          >= {EMB_DEDUP_TAU}
    ORDER BY sim DESC, a_id, b_id
    """,
)
def q_dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup PAIRS the scale way: multi-table hyperplane-LSH
    candidates (recall stage), exact cosine re-score (precision stage).

    This is `q_dedup_embedding_cosine`'s production twin — same output
    contract (a_id < b_id, sim ≥ τ) with the LSH recall trade made
    explicit: band width adapts to the corpus (`_SQL_NB` docstring), so
    candidate volume is O(n·tables) at ANY scale — the design that
    survives the sf5 sweep where a fixed 4-bit band would stall in an
    n²/16 self-join — while recall at the fixed τ decays with corpus
    growth and is printed against the brute-force twin. It is also the
    batch face of `streaming/dedup.py::StreamingEmbeddingDedupFilter`:
    both build bands with `hyperplane_bands`, so this query's DuckDB
    parity pins the banding expression family the streaming filter
    trusts.

    Plan at 100 TB: a 1-row corpus-count aggregate broadcast picks the
    band width (BNLJ by necessity, 1-row build side — the whitelisted
    scalar-subquery shape); one narrow map + explode stamps 16
    (band_idx, band_key) rows per vector; the self-equi-join on the band
    shuffles those narrow keys only; DISTINCT bounds re-scoring to unique
    candidate pairs; the two joins back to `embeddings` fetch vectors for
    exactly the candidates instead of carrying 64 doubles through the
    band shuffle.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    # checkpointed once (r6): the nb probe, the banding map, and both
    # verify-join sides each re-scanned embeddings (6 scans in the plan);
    # the (vec_id, emb, norm) table materializes once and every stage
    # reads it — at 100 TB that is one corpus read instead of six
    en = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", F.sqrt(_dot("emb", "emb"))).localCheckpoint(eager=True)
    p = en.agg(_nb_col().alias("nb"))
    bands = en.crossJoin(p).select(
        "vec_id",
        F.explode(
            hyperplane_bands(F.col("emb"), N_TABLES, F.col("nb"))
        ).alias("band"),
    ).select("vec_id", F.col("band.band_idx").alias("band_idx"),
             F.col("band.band_key").alias("band_key"))
    # both self-join sides read the banded stream once (lsh helper class)
    bands = bands.localCheckpoint(eager=True)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    ea = en.select(F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"),
                   F.col("nrm").alias("a_n"))
    eb = en.select(F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"),
                   F.col("nrm").alias("b_n"))
    # per-side norms precomputed before the candidate join (r6)
    sim = F.round(_dot("a_emb", "b_emb") / (F.col("a_n") * F.col("b_n")), 6)
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .select("a_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") >= EMB_DEDUP_TAU)
        .orderBy(F.desc("sim"), "a_id", "b_id")
    )


def _sql_band_strings(col: str, nb: str, n_probes: int) -> str:
    """DuckDB scalar fragment: the full 'band_idx:band_key' string list of
    one vector expression ``col`` (all N_TABLES tables in one nested
    expression — no lateral join needed), base keys only at n_probes=0,
    base+probe keys otherwise. Generated from the same constants as the
    Spark side (`hyperplane_bands_multiprobe`) so the engines cannot
    drift."""
    base = (
        f"CAST(list_sum(list_transform(range(0,{nb}), b -> "
        f"CASE WHEN {col}[CAST((t*{_P1} + b*{_P2}) % len({col}) AS INT) + 1] >= 0 "
        f"THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)"
    )
    base_str = f"CAST(t AS VARCHAR) || ':' || CAST({base} AS VARCHAR)"
    if n_probes == 0:
        return f"list_transform(range(0,{N_TABLES}), t -> {base_str})"
    pbits = (
        f"list_transform(list_slice(list_sort(list_transform(range(0,{nb}), b -> "
        f"{{'m': abs({col}[CAST((t*{_P1} + b*{_P2}) % len({col}) AS INT) + 1]), "
        f"'b': b}})), 1, {n_probes}), s -> s.b)"
    )
    return (
        f"flatten(list_transform(range(0,{N_TABLES}), t -> list_concat("
        f"[{base_str}], "
        f"list_transform({pbits}, pb -> CAST(t AS VARCHAR) || ':' || "
        f"CAST(xor({base}, (CAST(1 AS BIGINT) << pb)) AS VARCHAR)))))"
    )


def _band_strings(vec: Column, nb: Column, n_probes: int) -> Column:
    """Spark twin of `_sql_band_strings`: 'band_idx:band_key' strings."""
    arr = (
        hyperplane_bands_multiprobe(vec, N_TABLES, nb, n_probes)
        if n_probes
        else hyperplane_bands(vec, N_TABLES, nb)
    )
    return F.transform(
        arr,
        lambda s: F.concat_ws(
            ":", s["band_idx"].cast("string"), s["band_key"].cast("string")
        ),
    )


@register(
    "q_dedup_embedding_lsh_multiprobe_pairs",
    oracle=f"""
    WITH p AS (SELECT {_SQL_NB} AS nb FROM embeddings),
    bands AS (
      SELECT vec_id, band_idx, u.band_key AS band_key, u.is_probe AS is_probe
      FROM (
        SELECT vec_id, band_idx, unnest(bands) AS u FROM (
          SELECT vec_id, {sql_hyperplane_bands_multiprobe(n_bits="p.nb")}
          FROM embeddings, p, range(0,{N_TABLES}) r(t)))),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.vec_id < b.vec_id AND NOT a.is_probe)
    SELECT a_id, b_id,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = a_id
    JOIN embeddings eb ON eb.vec_id = b_id
    WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 6)
          >= {EMB_DEDUP_TAU}
    ORDER BY sim DESC, a_id, b_id
    """,
)
def q_dedup_embedding_lsh_multiprobe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_dedup_embedding_lsh_pairs` with single-bit multiprobe candidates
    (r5 verdict item 1): a pair (a < b) is a candidate when b's base OR
    probe key equals a's BASE key in some table — the directional relation
    the streaming filter's base-only registry implements, so this query's
    DuckDB parity pins the exact candidate family
    `StreamingEmbeddingDedupFilter(n_probes>0)` trusts.

    Plan at 100 TB: identical shape to the base query — the banding map
    emits (1+{N_PROBES})× rows per vector and the band self-join gains the
    cheap NOT is_probe predicate; candidate volume stays O(n·tables·
    probes) because adaptive nb keeps per-bucket occupancy O(1). What the
    probes buy is measured, not asserted: see
    q_embedding_lsh_recall_calibration.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    # checkpointed once (r6): same single-corpus-read restructure as the
    # base query above — one (vec_id, emb, norm) materialization feeds
    # the nb probe, the (1+probes)× banding map, and both verify sides
    en = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", F.sqrt(_dot("emb", "emb"))).localCheckpoint(eager=True)
    p = en.agg(_nb_col().alias("nb"))
    bands = (
        en.crossJoin(p)
        .select(
            "vec_id",
            F.explode(
                hyperplane_bands_multiprobe(
                    F.col("emb"),
                    N_TABLES,
                    F.col("nb"),
                    N_PROBES,
                )
            ).alias("band"),
        )
        .select(
            "vec_id",
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.band_key").alias("band_key"),
            F.col("band.is_probe").alias("is_probe"),
        )
    )
    # both self-join sides read the banded stream once (lsh helper class)
    bands = bands.localCheckpoint(eager=True)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (~F.col("a.is_probe")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    ea = en.select(F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"),
                   F.col("nrm").alias("a_n"))
    eb = en.select(F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"),
                   F.col("nrm").alias("b_n"))
    # per-side norms precomputed before the candidate join (r6)
    sim = F.round(_dot("a_emb", "b_emb") / (F.col("a_n") * F.col("b_n")), 6)
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .select("a_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") >= EMB_DEDUP_TAU)
        .orderBy(F.desc("sim"), "a_id", "b_id")
    )


#: recall-calibration grid: production SemDeDup-style thresholds
CAL_TAUS = (0.70, 0.80, 0.90)
#: blend weights for the planted near-dups: p = v + w*m with a decorrelated
#: mixer m gives cos(v, p) ≈ 1/sqrt(1+w^2) ≈ 0.94 / 0.82 / 0.64 — a spread
#: bracketing the tau grid so every threshold bucket is populated
CAL_WEIGHTS = (0.35, 0.70, 1.20)

_CAL_W_SQL = (
    "(CASE CAST(v.vec_id % 3 AS INT) WHEN 0 THEN CAST(0.35 AS DOUBLE) "
    "WHEN 1 THEN CAST(0.70 AS DOUBLE) ELSE CAST(1.20 AS DOUBLE) END)"
)


@register(
    "q_embedding_lsh_recall_calibration",
    oracle=f"""
    WITH p AS (SELECT CAST(count(*) AS BIGINT) AS n, {_SQL_NB} AS nb
               FROM embeddings),
    planted AS (
      SELECT CAST(v.embedding AS DOUBLE[]) AS v_emb,
             list_transform(range(1, len(v.embedding)+1), d ->
               CAST(v.embedding[d] AS DOUBLE)
               + {_CAL_W_SQL} * CAST(m.embedding[d] AS DOUBLE)) AS p_emb,
             p.nb AS nb
      FROM embeddings v, p
      JOIN embeddings m ON m.vec_id = (v.vec_id + 17) % p.n),
    scored AS (
      SELECT round(list_cosine_similarity(v_emb, p_emb), 6) AS sim,
             list_has_any({_sql_band_strings("v_emb", "nb", 0)},
                          {_sql_band_strings("p_emb", "nb", 0)}) AS base_hit,
             list_has_any({_sql_band_strings("v_emb", "nb", 0)},
                          {_sql_band_strings("p_emb", "nb", N_PROBES)})
               AS multi_hit
      FROM planted)
    SELECT tau,
           CAST(count(*) AS BIGINT) AS true_pairs,
           CAST(sum(CASE WHEN base_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS base_found,
           CAST(sum(CASE WHEN multi_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS multiprobe_found,
           round(sum(CASE WHEN base_hit THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS base_recall,
           round(sum(CASE WHEN multi_hit THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS multiprobe_recall
    FROM scored,
         unnest([CAST(0.70 AS DOUBLE), CAST(0.80 AS DOUBLE),
                 CAST(0.90 AS DOUBLE)]) t(tau)
    WHERE sim >= tau
    GROUP BY tau ORDER BY tau
    """,
)
def q_embedding_lsh_recall_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall calibration on a planted known-similarity corpus (r5
    verdict item 1): SCALE.md's "recall decays as nb tracks the corpus"
    becomes a DIAL measured per corpus size instead of a surprise.

    Each corpus vector v gets one planted near-dup p = v + w·m (m a
    decorrelated mixer — the vector 17 ids away; w cycles 0.35/0.70/1.20 by
    vec_id, giving exact cosines spread ≈0.64–0.99 that bracket the
    production tau grid 0.7/0.8/0.9). For every threshold: how many planted
    pairs are TRUE near-dups at that tau, and how many of those the
    adaptive-width banding would CANDIDATE — base keys only vs single-bit
    multiprobe (`hyperplane_bands_multiprobe`). Recall is the candidate-
    stage hit rate; the cosine verify stage downstream is exact, so this IS
    the end-to-end recall of the LSH dedup family at this corpus scale.

    Plan at 100 TB: zero joins beyond the 1-row (n, nb) broadcast and the
    narrow mixer equi-join — each planted pair lives in ONE row where both
    band lists are computed and compared (arrays_overlap), so cost is
    O(n·tables·nb) with no quadratic stage and no quarantine needed; the
    taus explode a 3-element literal array. At any SF this query runs in
    one pass over the corpus.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    # checkpointed once (r6): the (n, nb) probe and both mixer-join sides
    # each re-scanned embeddings (3 scans in the plan); the vector table
    # materializes once
    en = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).localCheckpoint(eager=True)
    p = en.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), _nb_col().alias("nb")
    )
    v = en.select("vec_id", F.col("emb").alias("v_emb"))
    m = en.select(
        F.col("vec_id").alias("m_id"),
        F.col("emb").alias("m_emb"),
    )
    w = F.element_at(
        F.array(*[F.lit(x) for x in CAL_WEIGHTS]),
        (F.col("vec_id") % 3 + 1).cast("int"),
    )
    nb = F.col("nb")
    planted = (
        v.crossJoin(p)
        .join(m, F.col("m_id") == (F.col("vec_id") + 17) % F.col("n"))
        .withColumn("p_emb", F.zip_with("v_emb", "m_emb", lambda x, y: x + w * y))
    )
    scored = planted.select(
        F.round(cosine("v_emb", "p_emb"), 6).alias("sim"),
        F.arrays_overlap(
            _band_strings(F.col("v_emb"), nb, 0),
            _band_strings(F.col("p_emb"), nb, 0),
        ).alias("base_hit"),
        F.arrays_overlap(
            _band_strings(F.col("v_emb"), nb, 0),
            _band_strings(F.col("p_emb"), nb, N_PROBES),
        ).alias("multi_hit"),
    )
    # one conditional aggregate per (tau, counter) instead of exploding the
    # tau grid BEFORE aggregation: the interpreted banding expressions are
    # evaluated once per row (an explode-then-group would re-evaluate them
    # per tau copy under projection collapse — measured OVER_BUDGET at sf5),
    # and the only exchange left is the 1-row global agg
    aggs = []
    for i, t in enumerate(CAL_TAUS):
        c = F.col("sim") >= t
        aggs += [
            F.sum(c.cast("long")).alias(f"tp{i}"),
            F.sum((c & F.col("base_hit")).cast("long")).alias(f"bf{i}"),
            F.sum((c & F.col("multi_hit")).cast("long")).alias(f"mf{i}"),
        ]
    one = scored.agg(*aggs)
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(t)).alias("tau"),
                        F.col(f"tp{i}").cast("bigint").alias("true_pairs"),
                        F.col(f"bf{i}").cast("bigint").alias("base_found"),
                        F.col(f"mf{i}").cast("bigint").alias("multiprobe_found"),
                    )
                    for i, t in enumerate(CAL_TAUS)
                ]
            )
        ).alias("r")
    ).select("r.*")
    return (
        rows.filter(F.col("true_pairs") > 0)
        .select(
            "tau",
            "true_pairs",
            "base_found",
            "multiprobe_found",
            F.round(
                F.col("base_found") / F.col("true_pairs").cast("double"), 6
            ).alias("base_recall"),
            F.round(
                F.col("multiprobe_found") / F.col("true_pairs").cast("double"), 6
            ).alias("multiprobe_recall"),
        )
        .orderBy("tau")
    )
