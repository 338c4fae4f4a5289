"""Deduplication family over ``documents``: exact, MinHash+LSH, token-Jaccard.

Every stage is expressed with built-in DataFrame ops (explode / groupBy /
self-join) so the whole pipeline is JVM-side and shuffle-planned by Catalyst.

Cross-engine trick making MinHash oracle-able: a MinHash signature is
``MIN(md5(seed || ':' || token))`` — the *lexicographic* minimum of hex
digests. md5 hex strings are identical in Spark and DuckDB, and MIN over
strings is order-independent, so signatures (and therefore LSH buckets and
candidate pairs) hash-match exactly without any engine-specific numeric
hashing.

Scale design (100 TB documents):
- Tokenize+explode is narrow; the signature group-by is one shuffle on
  doc_id (uniform key).
- LSH banding turns the quadratic all-pairs problem into per-bucket
  self-joins: pairs are generated only inside (band_idx, band_key) buckets.
  Bucket sizes are bounded in practice; a hot bucket (all-identical docs) is
  itself the answer and AQE skew-split handles the join.
- The verify stage re-joins token sets only for candidate pairs — the
  expensive exact Jaccard runs on candidates, never on all pairs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register, spread

N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 signatures each


def _tokens(docs: DataFrame) -> DataFrame:
    """doc_id → exploded distinct token set."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """One row per doc: mh0..mh{n-1} lexicographic-min md5 signatures.

    Computed as a NARROW MAP — ``array_min(transform(tokens, md5(seed:tok)))``
    per row — instead of explode + groupBy(doc_id).agg(min(...)) (r6). The
    aggregate form shuffled the full token stream on doc_id and, because
    string-typed agg buffers are not hash-aggregatable, planned a
    SortAggregate (full sort of the exploded tokens). The map form needs
    zero shuffles and zero sorts for signatures: every downstream consumer
    (LSH banding, clusters, connected components, the streaming near-dup
    filter) now starts from doc-level rows without a token-volume exchange.
    Bit-identical output: array_min over the same md5 set equals MIN(), and
    the isNotNull(text) filter reproduces the explode path's null-drop.
    """
    toks = F.array_distinct(F.split("text", " "))

    def _hash_fn(seed: int):
        # factory, not a default-arg lambda: a 2-arg lambda would be read
        # by F.transform as (element, index)
        prefix = f"{seed}:"
        return lambda t: F.md5(F.concat(F.lit(prefix), t))

    sig_cols = [
        F.array_min(F.transform("_ts", _hash_fn(s))).alias(f"mh{s}")
        for s in range(n_hashes)
    ]
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", toks.alias("_ts"))
        .select("doc_id", *sig_cols)
    )


def _banded(sigs: DataFrame, n_hashes: int, band_size: int) -> DataFrame:
    """doc_id × (band_idx, band_key) exploded LSH banding."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.concat_ws("|", *[f"mh{b * band_size + i}" for i in range(band_size)])
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.posexplode(bands).alias("band_idx", "band_key"))


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    salt: int = 32,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one LSH band.

    Chunk-salted bucket self-join (sf5 engine-sweep finding, same disease
    as q_edit_distance_dedup): pair volume is quadratic in the largest
    bucket, a bucket is ONE join-key group, and AQE's byte-based skew
    split never fires on a <1 MB partition whose cost is join-condition
    compute. On this near-dup-saturated corpus buckets average ~700 docs
    (SCALE.md), so one bucket's clique used to land in one task. Each doc
    gets a deterministic chunk ``ca = xxhash64(doc_id) % salt``; the left
    side explodes to target chunks [ca, salt) and ``target == b.ca`` joins
    the key, so a k-doc bucket's k²/2 pairs spread across ~salt tasks.
    (ca < b.ca) OR (ca == b.ca AND id < id) keeps each unordered pair
    exactly once; the emitted set is bit-identical to the naive join.
    """
    banded = (
        _banded(sigs, n_hashes, band_size)
        .withColumn("ca", F.pmod(F.xxhash64("doc_id"), F.lit(salt)).cast("int"))
        # checkpointed once (r6): both sides of the bucket self-join
        # otherwise re-derive the signature map per reference
        .localCheckpoint(eager=True)
    )
    a = banded.select(
        F.col("doc_id").alias("id_a"),
        "band_idx",
        "band_key",
        F.col("ca").alias("ca_a"),
        F.explode(F.sequence(F.col("ca"), F.lit(salt - 1))).alias("tj"),
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_key").alias("band_key_b"),
        F.col("ca").alias("ca_b"),
    )
    return (
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_key") == F.col("band_key_b"))
            & (F.col("tj") == F.col("ca_b"))
            & (
                (F.col("ca_a") < F.col("ca_b"))
                | (
                    (F.col("ca_a") == F.col("ca_b"))
                    & (F.col("id_a") < F.col("id_b"))
                )
            ),
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        .distinct()
    )


def lsh_star_edges(sigs: DataFrame, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE) -> DataFrame:
    """Per-bucket STAR edges (bucket-min → member): the connectivity-
    preserving reduction of `lsh_candidate_pairs`.

    Within one (band_idx, band_key) bucket every doc pairs with every other
    in the clique form — O(k²) edges per k-doc bucket. For connected
    components only CONNECTIVITY matters, and a star to the bucket minimum
    spans the same bucket with k−1 edges, so the components are provably
    identical while edge count drops from quadratic to linear in bucket
    depth. Measured on this corpus (inherently near-dup-saturated: 31-token
    vocabulary, ~6% of ALL pairs are true J≥0.9 near-dups): 8.5M clique
    pairs → 13.5k star edges at sf0.1, 114M → 161k at sf1 (~700×). This is
    the difference between a CC that dies on shuffle spill at 10× data and
    one that converges in seconds — the 100-TB shape.
    """
    w = Window.partitionBy("band_idx", "band_key")
    return (
        _banded(sigs, n_hashes, band_size)
        .withColumn("root", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("root"))
        .select(F.col("root").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


# Single source of truth for the diagnostic sample size; _SQL_SDOCS is
# generated from it below so the Spark and DuckDB sides cannot diverge.
DIAG_SAMPLE_CAP = 5000


def tiered_sample_sql(count_from: str, id_expr: str) -> str:
    """SQL predicate for the tiered md5 diagnostic sample (full corpus ≤
    cap, the 1/16 md5-slice ≤ 16·cap, 1/256 ≤ 256·cap, 1/4096 above).
    Single source of the TIER LADDER for every surface that samples —
    documents here, embeddings in extras175 — so adding a tier cannot
    silently break Spark/DuckDB sampling parity for one of them (the
    ADVICE-r4 lesson, extended from the cap to the structure)."""
    cap = DIAG_SAMPLE_CAP
    n = f"(SELECT COUNT(*) FROM {count_from})"
    h = f"md5(CAST({id_expr} AS VARCHAR))"
    return f"""({n} <= {cap}
         OR ({n} <= {16 * cap} AND substr({h}, 1, 1) = '0')
         OR ({n} <= {256 * cap} AND substr({h}, 1, 2) = '00')
         OR substr({h}, 1, 3) = '000')"""


def tiered_sample_pred(n_col, id_col) -> "F.Column":
    """Spark twin of `tiered_sample_sql` — same cap, same tiers."""
    cap = DIAG_SAMPLE_CAP
    h3 = F.substring(F.md5(id_col.cast("string")), 1, 3)
    return (
        (n_col <= cap)
        | ((n_col <= 16 * cap) & (F.substring(h3, 1, 1) == "0"))
        | ((n_col <= 256 * cap) & (F.substring(h3, 1, 2) == "00"))
        | (h3 == "000")
    )


def diagnostic_doc_sample(docs: DataFrame) -> DataFrame:
    """Deterministic TIERED doc sample for quadratic DIAGNOSTICS
    (calibration, precision/recall grading): full corpus when
    |docs| <= DIAG_SAMPLE_CAP (every sf<=0.1 published value stays
    bit-identical), the 1/16 md5-slice of doc_ids up to 16*cap, the
    1/256 slice up to 256*cap, the 1/4096 slice above — each tier adds
    one md5 hex digit, so the expected sample stays in [cap, 16*cap]
    up to 4096*cap (~20M) docs. Beyond that the pattern extends by
    recursing on further hex digits; at today's tested scales (sf5 =
    250k docs) three tiers suffice. The estimators need O(10^4) pairs,
    not the 11G clique pairs the sf5 corpus generates (engine-sweep
    finding); grading runs on the sample, production dedup (star edges
    / clusters) runs in full. Mirror of ``_SQL_SDOCS`` (generated from
    the same ``DIAG_SAMPLE_CAP``) so both engines sample identically.
    """
    tot = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    return (
        docs.crossJoin(F.broadcast(tot))
        .filter(tiered_sample_pred(F.col("_n_docs"), F.col("doc_id")))
        .drop("_n_docs")
    )


# DuckDB mirror of diagnostic_doc_sample: prepend, then point the minhash
# CTE chain at sdocs instead of documents. Generated from DIAG_SAMPLE_CAP
# so a cap change cannot silently break engine/oracle sampling parity.
_SQL_SDOCS = f"""
    WITH sdocs AS (
      SELECT * FROM documents
      WHERE {tiered_sample_sql("documents", "doc_id")}
    ),"""


# Shared SQL CTEs for the MinHash pipeline (DuckDB oracle).
_SQL_MINHASH_BASE = """
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), sigs AS (
      SELECT doc_id,
             MIN(md5('0:' || tok)) AS mh0, MIN(md5('1:' || tok)) AS mh1,
             MIN(md5('2:' || tok)) AS mh2, MIN(md5('3:' || tok)) AS mh3,
             MIN(md5('4:' || tok)) AS mh4, MIN(md5('5:' || tok)) AS mh5,
             MIN(md5('6:' || tok)) AS mh6, MIN(md5('7:' || tok)) AS mh7
      FROM toks GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_key FROM sigs
      UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sigs
      UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sigs
      UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sigs
    )"""

_SQL_MINHASH_CTES = _SQL_MINHASH_BASE + """, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
"""

# Same chain over the diagnostic doc sample (full corpus <= 5000 docs,
# 1/16 md5-slice above): for grading/calibration queries whose pair
# volume is quadratic by ground truth on this corpus.
_SQL_MINHASH_CTES_SAMPLED = _SQL_SDOCS + _SQL_MINHASH_CTES.replace(
    "WITH toks", "toks", 1
).replace("FROM documents", "FROM sdocs")

# Star-reduced edge variant (see lsh_star_edges): identical connectivity,
# linear — not quadratic — in bucket depth.
_SQL_MINHASH_STAR_CTES = _SQL_MINHASH_BASE + """, stars AS (
      SELECT MIN(doc_id) OVER (PARTITION BY band_idx, band_key) AS doc_a,
             doc_id AS doc_b
      FROM bands
    ), cand AS (
      SELECT DISTINCT doc_a, doc_b FROM stars WHERE doc_b > doc_a
    )
"""


@register(
    "q_dedup_exact",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           md5(text) AS text_hash
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text; emit duplicate clusters."""
    docs = spread(load(spark, sf_dir, "documents"))
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("canonical_doc", "n_copies", "text_hash")
    )


@register(
    "q_dedup_minhash_signatures",
    oracle=_SQL_MINHASH_CTES + "SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7 FROM sigs",
)
def q_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature computation (8 hash functions over token sets)."""
    docs = spread(load(spark, sf_dir, "documents"))
    return minhash_signatures(docs)


@register(
    "q_dedup_minhash_lsh",
    oracle=_SQL_MINHASH_CTES
    + """
    , toksets AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
             / CAST(len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
             AS jaccard
    FROM cand c
    JOIN toksets ta ON ta.doc_id = c.doc_a
    JOIN toksets tb ON tb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
            / CAST(len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
          >= 0.5
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle→minhash→band→bucket-join
    →exact-Jaccard verify at θ=0.5.

    The emitted pairs are LSH candidates *verified* by true token Jaccard, so
    the output is deterministic (no probabilistic misses can add rows — only
    candidate generation is probabilistic, and the oracle replays the exact
    same banding).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs)
    cand = lsh_candidate_pairs(sigs)
    # checkpointed once (r6): the doc_a and doc_b verify joins each
    # re-tokenized the corpus (2 scans in the plan); the token-set table
    # materializes once (posting-list class, as in q_dedup_jaccard_pairs)
    toksets = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ts")
    ).localCheckpoint(eager=True)
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = (F.size(F.col("ta")) + F.size(F.col("tb"))).cast("double") - inter
    jac = inter / union
    return (
        cand.join(toksets.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ta")), "doc_a")
        .join(toksets.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("tb")), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "q_dedup_minhash_clusters",
    oracle=_SQL_MINHASH_CTES
    + """
    SELECT min(doc_id) AS canonical_doc,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           md5(mh0 || mh1 || mh2 || mh3 || mh4 || mh5 || mh6 || mh7) AS sig_hash
    FROM sigs
    GROUP BY mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7
    HAVING COUNT(*) > 1
    """,
    bench=True,
)
def q_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup *clustering*: docs whose full 8-hash signature
    collides are near-certain duplicates (signature equality ≈ Jaccard → 1).

    This is the production dedup shape for web-scale corpora: output is O(n)
    (one row per duplicate cluster), unlike pairwise emission which is
    inherently quadratic when the corpus is self-similar. One shuffle for
    signatures, one for the cluster group-by — both on uniform hash keys.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs)
    sig_cols = [f"mh{i}" for i in range(N_HASHES)]
    return (
        sigs.groupBy(*sig_cols)
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count("*").cast("bigint").alias("cluster_size"),
        )
        .filter(F.col("cluster_size") > 1)
        .select(
            "canonical_doc",
            "cluster_size",
            F.md5(F.concat(*sig_cols)).alias("sig_hash"),
        )
    )


@register(
    "q_dedup_jaccard_pairs",
    oracle="""
    WITH toksets AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
             / CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS DOUBLE)
             AS jaccard
    FROM toksets a JOIN toksets b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
            / CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS DOUBLE)
          >= 0.9
    """,
)
def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup pairs (J ≥ 0.9), blocked losslessly by
    (lang, log-length bucket).

    Scale design: J(A,B) ≥ 0.9 forces |A∩B| ≥ 0.9·max(|A|,|B|) and
    |A∩B| ≤ min(|A|,|B|), hence min ≥ 0.9·max — qualifying pairs have
    token-set sizes within a 0.9 ratio, so in log₁/₀.₉ buckets they sit at
    most 1 apart. Side B is emitted under its bucket ±2 (the extra ±1
    absorbs float fuzz at bucket edges) and the join is a pure equi-join on
    (lang, bucket); an exact integer size-ratio pre-filter (10·min ≥ 9·max)
    then prunes candidates before the expensive array_intersect. Result set
    is IDENTICAL to the unblocked all-pairs form (the blocking is lossless
    for J ≥ 0.9 — the DuckDB oracle stays the naive within-lang join), but
    no block is quadratic in corpus size: candidates are bounded by
    (lang × near-equal-length) populations, a constant-factor-5 emission on
    one side. The probabilistic scale path for even hotter blocks is the
    MinHash-LSH pipeline next door (q_dedup_minhash_lsh); this is the exact
    kernel.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    # bucket width: ratio 0.9 per bucket (ln(1/0.9))
    toksets = docs.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("ts")
    ).select(
        "doc_id",
        "lang",
        "ts",
        F.size("ts").alias("n_tok"),
        F.floor(F.log(F.size("ts").cast("double")) / F.lit(math.log(1.0 / 0.9)))
        .cast("int")
        .alias("bkt"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): both blocked self-join sides re-scanned
    # documents and re-ran split+array_distinct (2 tokenize passes in the
    # plan); the token-set table materializes once (posting-list class:
    # state linear in the corpus — same trade as the shingle/effective-
    # rank checkpoints, and the self-join shuffles this volume anyway)
    a = toksets.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        F.col("ts").alias("ta"),
        F.col("n_tok").alias("na"),
        F.col("bkt").alias("bkt"),
    )
    b = toksets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("ts").alias("tb"),
        F.col("n_tok").alias("nb"),
        F.explode(
            F.array(*[F.col("bkt") + F.lit(i) for i in range(-2, 3)])
        ).alias("bkt"),
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = (F.col("na") + F.col("nb")).cast("double") - inter
    jac = inter / union
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (a["bkt"] == b["bkt"])
            & (F.col("doc_a") < F.col("doc_b"))
            # exact integer size-ratio gate: min ≥ 0.9·max, no floats
            & (F.least("na", "nb") * 10 >= F.greatest("na", "nb") * 9),
        )
        .select("doc_a", "doc_b", "lang", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.9)
    )


@register(
    "q_dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), bits AS (
      SELECT doc_id, h.pos,
             SUM(CASE WHEN strpos('0123456789abcdef',
                                  substr(md5(tok), h.pos, 1)) - 1 >= 8
                      THEN 1 ELSE -1 END) AS weight
      FROM toks, (SELECT unnest(generate_series(1, 16)) AS pos) h
      GROUP BY doc_id, h.pos
    )
    SELECT doc_id,
           string_agg(CASE WHEN weight > 0 THEN '1' ELSE '0' END, ''
                      ORDER BY pos) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signature (16-bit, one bit per md5 hex position).

    Each token votes ±1 per bit position (bit = high nibble of the md5 hex
    digit at that position); the sign of the sum is the signature bit.
    Near-dup detection then compares signatures by Hamming distance — see
    tests. The hex-digit formulation keeps both engines bit-identical.

    Computed as a NARROW MAP (r6): per doc, md5 the distinct-token array
    once, then for each of the 16 positions sum the votes with a nested
    ``aggregate`` higher-order function — the previous explode×16 form
    shuffled a 16× token stream on (doc_id, pos) and re-grouped twice;
    this form has zero shuffles and no aggregation at all. Bit-identical:
    the per-position vote sum is the same integer sum (order-independent),
    and ``substr(h,p,1) >= '8'`` is exactly ``instr(hex, c)-1 >= 8`` on the
    lowercase-hex alphabet.
    """
    docs = spread(load(spark, sf_dir, "documents")).filter(F.col("text").isNotNull())
    hs = F.transform(F.array_distinct(F.split("text", " ")), F.md5)
    sim = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda p: F.when(
                F.aggregate(
                    "_hs",
                    F.lit(0),
                    lambda acc, h: acc
                    + F.when(h.substr(p, F.lit(1)) >= "8", 1).otherwise(-1),
                )
                > 0,
                "1",
            ).otherwise("0"),
        ),
    )
    return docs.select("doc_id", hs.alias("_hs")).select(
        "doc_id", sim.alias("simhash")
    )


_SQL_CC_STEP = """
      SELECT n.node,
             LEAST(n.label, COALESCE(MIN(nb.label), n.label)) AS label
      FROM {prev} n
      LEFT JOIN (
        SELECT e.doc_a AS node, l.label
        FROM cand e JOIN {prev} l ON l.node = e.doc_b
        UNION ALL
        SELECT e.doc_b, l.label
        FROM cand e JOIN {prev} l ON l.node = e.doc_a
      ) nb ON nb.node = n.node
      GROUP BY n.node, n.label
"""


_CC_ROUNDS = 6  # measured fixpoint: 4 rounds at sf0.001-0.1, 5 at sf1
# hard cap for the engine's converge-until-stable loop (r4 review: a star
# chain of diameter > _CC_ROUNDS would otherwise split one true cluster —
# the engine now detects the fixpoint instead of trusting the floor)
_CC_MAX_ROUNDS = 30

# Each round references the previous label set three times; DuckDB inlines
# plain CTEs, so without MATERIALIZED the expansion is 3^rounds copies of
# the whole minhash pipeline (6 rounds ground for minutes at sf0.001 —
# the oracle-side twin of the Spark lineage blowup localCheckpoint fixes).
_SQL_CC_CHAIN = "".join(
    f", l{i + 1} AS MATERIALIZED ({_SQL_CC_STEP.format(prev=f'l{i}')})"
    for i in range(_CC_ROUNDS)
)


@register(
    "q_dedup_connected_components",
    oracle=_SQL_MINHASH_STAR_CTES.replace(
        "cand AS (", "cand AS MATERIALIZED (", 1
    )
    + """
    , nodes AS MATERIALIZED (
      SELECT DISTINCT doc_a AS node FROM cand
      UNION SELECT DISTINCT doc_b FROM cand
    ),
    l0 AS (SELECT node, node AS label FROM nodes)"""
    + _SQL_CC_CHAIN
    + f"""
    SELECT CAST(label AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(node) AS BIGINT) AS canonical_doc
    FROM l{_CC_ROUNDS} GROUP BY label
    """,
)
def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *transitive* clusters: iterative min-label propagation over
    the LSH bucket graph — the connected-components step that turns
    candidates into dedup groups (A~B, B~C ⇒ {A,B,C} even when A,C never
    collide).

    Pure integer MIN propagation: bit-exact on any cluster size or
    aggregation order, which is why an iterative graph algorithm can
    hash-match a chained-CTE oracle.

    Scale (reworked r4 after the sf1 run filled the shuffle disk):
    1. Edges are `lsh_star_edges` — per-bucket stars, connectivity-identical
       to the clique pairs but ~700× fewer on this corpus (161k vs 114M at
       sf1). On a near-dup-saturated corpus pairwise emission is inherently
       quadratic; CC only needs a spanning structure.
    2. Each round's labels are `localCheckpoint`ed (eager) so the plan is
       one bounded shuffle per round instead of an exponentially re-derived
       lineage (the r3 version recomputed the whole candidate join per
       round under cache pressure).
    3. Rounds: a floor of `_CC_ROUNDS` (the chained-CTE oracle's depth,
       measured-fixpoint+1 on this corpus), then an explicit convergence
       check per round — stop when no label changed, hard-capped at
       `_CC_MAX_ROUNDS`. On a corpus whose star graph has diameter beyond
       the floor, the ENGINE still converges to true components (and the
       fixed-depth oracle would rightly flag its own shallowness); the
       check costs one limit(1).count() over the label table per extra
       round, nothing before the floor.
    Each round shuffles 2×|edges| label lookups on uniform keys — no skew.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs)
    edges = lsh_star_edges(sigs).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("doc_a").alias("node"))
        .union(edges.select("doc_b"))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(
        eager=True
    )
    for i in range(_CC_MAX_ROUNDS):
        nb = (
            edges.join(labels.withColumnRenamed("node", "doc_b"), "doc_b")
            .select(F.col("doc_a").alias("node"), "label")
            .unionAll(
                edges.join(labels.withColumnRenamed("node", "doc_a"), "doc_a")
                .select(F.col("doc_b").alias("node"), "label")
            )
            .groupBy("node")
            .agg(F.min("label").alias("nb_label"))
        )
        new_labels = (
            labels.join(nb, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        converged = False
        if i >= _CC_ROUNDS - 1:  # past the floor: stop at the fixpoint
            converged = (
                new_labels.withColumnRenamed("label", "new_label")
                .join(labels, "node")
                .filter(F.col("new_label") != F.col("label"))
                .limit(1)
                .count()
                == 0
            )
        labels = new_labels
        if converged:
            break
    else:  # cap exhausted without a detected fixpoint: say so, loudly
        import warnings

        warnings.warn(
            f"connected components hit _CC_MAX_ROUNDS={_CC_MAX_ROUNDS} "
            "without converging — components may be under-merged; raise the "
            "cap for graphs with diameter beyond it",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.groupBy(F.col("label").cast("bigint").alias("component")).agg(
        bcount("n_docs"),
        F.min("node").cast("bigint").alias("canonical_doc"),
    )
