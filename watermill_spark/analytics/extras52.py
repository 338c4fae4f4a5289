"""Analytics batch 60: schema-discovery profiling — candidate-key
detection and functional-dependency auditing (the metadata a query
optimizer or data-contract checker derives from the data itself) — plus a
Johnson–Lindenstrauss signed random projection of the embedding corpus
with measured pairwise-distance distortion.

The JL projection uses md5-derived ±1 signs (the deterministic stand-in
for a Rademacher matrix), so both engines build bit-identical projection
matrices; all distance sums go per-term through DECIMAL, never a float
fold of engine-defined order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .registry import load, register


@register(
    "q_candidate_keys",
    oracle="""
    WITH prof AS (
      SELECT 'o_orderkey' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
      FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'l_orderkey+l_linenumber', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT l_orderkey * 100 + l_linenumber) AS BIGINT)
      FROM lineitem
    )
    SELECT col_name, n_rows, n_distinct,
           round(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS uniqueness,
           CASE WHEN n_distinct = n_rows THEN 1 ELSE 0 END AS is_candidate_key
    FROM prof
    """,
)
def q_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery by uniqueness profiling: distinct-to-row
    ratio per column of `orders` plus the composite
    (l_orderkey, l_linenumber) — exactly the unique-constraint inference a
    contract checker or optimizer runs before trusting a join key
    (companion to q_table_profile's null/type profile and
    q_referential_orphans' FK side).

    All counts are exact integers; the composite key is packed into one
    integer (linenumber < 100) so both engines count the same set.

    Scale: each profile line is one map-side-combined count-distinct pass;
    at 100 TB the same surface runs on approx_count_distinct first and
    exact-counts only the survivors — the exact pass here is the oracle
    semantics. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    # r6: one profile pass per column meant five full orders scans (plus
    # one lineitem) — at 100 TB five corpus reads for one profile table.
    # A single aggregate computes every distinct count in one scan (the
    # Expand plan: each row fans out once per distinct-agg, partial
    # aggregation dedups map-side before the shuffle), then stack()
    # unpivots the 1-row profile into the same six rows. Exact integer
    # counts either way: 6 fact scans → 2 (orders once, lineitem once).
    o_prof = o.agg(
        bcount("n_rows"),
        F.count_distinct(F.col("o_orderkey")).cast("bigint").alias("d1"),
        F.count_distinct(F.col("o_custkey")).cast("bigint").alias("d2"),
        F.count_distinct(F.col("o_totalprice")).cast("bigint").alias("d3"),
        F.count_distinct(F.col("o_orderdate")).cast("bigint").alias("d4"),
        F.count_distinct(F.col("o_orderpriority")).cast("bigint").alias("d5"),
    )
    o_rows = o_prof.select(
        F.expr(
            "stack(5, 'o_orderkey', d1, 'o_custkey', d2, 'o_totalprice', d3,"
            " 'o_orderdate', d4, 'o_orderpriority', d5)"
            " AS (col_name, n_distinct)"
        ),
        "n_rows",
    ).select("col_name", "n_rows", "n_distinct")
    li_rows = li.agg(
        F.lit("l_orderkey+l_linenumber").alias("col_name"),
        bcount("n_rows"),
        F.count_distinct(F.col("l_orderkey") * 100 + F.col("l_linenumber"))
        .cast("bigint")
        .alias("n_distinct"),
    )
    rows = o_rows.unionByName(li_rows)
    return rows.select(
        "col_name",
        "n_rows",
        "n_distinct",
        F.round(F.col("n_distinct").cast("double") / F.col("n_rows"), 6).alias(
            "uniqueness"
        ),
        F.when(F.col("n_distinct") == F.col("n_rows"), 1).otherwise(0).alias(
            "is_candidate_key"
        ),
    )


@register(
    "q_functional_dependencies",
    oracle="""
    WITH fd1 AS (
      SELECT 'n_nationkey->n_regionkey' AS fd,
             CAST(COUNT(*) AS BIGINT) AS n_determinants,
             CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_violating,
             CAST(MAX(nd) AS BIGINT) AS max_dependents
      FROM (SELECT n_nationkey, COUNT(DISTINCT n_regionkey) AS nd
            FROM nation GROUP BY 1)
    ),
    fd2 AS (
      SELECT 'c_nationkey->c_mktsegment',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT),
             CAST(MAX(nd) AS BIGINT)
      FROM (SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS nd
            FROM customer GROUP BY 1)
    ),
    fd3 AS (
      SELECT 'o_custkey->o_orderpriority',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT),
             CAST(MAX(nd) AS BIGINT)
      FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nd
            FROM orders GROUP BY 1)
    ),
    fd4 AS (
      SELECT 'l_orderkey->l_returnflag',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT),
             CAST(MAX(nd) AS BIGINT)
      FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS nd
            FROM lineitem GROUP BY 1)
    ),
    allfd AS (
      SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
      UNION ALL SELECT * FROM fd3 UNION ALL SELECT * FROM fd4
    )
    SELECT fd, n_determinants, n_violating, max_dependents,
           CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS holds
    FROM allfd
    """,
)
def q_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over four candidate FDs (nation→region,
    customer-nation→segment, customer→priority, order→returnflag): for
    each, the number of determinant values, how many map to >1 dependent
    value, and the worst fan-out — FD mining's verification step, the
    basis for normalization checks and for optimizer rewrites that assume
    X→Y (companion to q_candidate_keys).

    All counts exact integers.

    Scale: each FD is one groupBy(determinant) count-distinct, map-side
    combined; a real FD miner would batch many candidate pairs into one
    pass with grouping sets — the per-FD plans here keep each oracle-
    checkable. §2.B [NS].
    """

    def fd(df: DataFrame, name: str, det: str, dep: str) -> DataFrame:
        inner = df.groupBy(det).agg(F.count_distinct(dep).alias("nd"))
        return inner.agg(
            F.lit(name).alias("fd"),
            bcount("n_determinants"),
            F.count_if(F.col("nd") > 1).cast("bigint").alias("n_violating"),
            F.max("nd").cast("bigint").alias("max_dependents"),
        )

    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rows = (
        fd(nation, "n_nationkey->n_regionkey", "n_nationkey", "n_regionkey")
        .unionByName(
            fd(cust, "c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment")
        )
        .unionByName(fd(o, "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
        .unionByName(fd(li, "l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
    )
    return rows.select(
        "fd",
        "n_determinants",
        "n_violating",
        "max_dependents",
        F.when(F.col("n_violating") == 0, 1).otherwise(0).alias("holds"),
    )


_JL_K = 8
_JL_D = 64
_N_SAMPLE = 20  # vec_id < 20 -> 190 pairs measured


@register(
    "q_jl_projection_distortion",
    oracle=f"""
    WITH dims AS (SELECT UNNEST(range(1, {_JL_D} + 1)) AS i),
    outs AS (SELECT UNNEST(range(1, {_JL_K} + 1)) AS j),
    signs AS (
      SELECT j, i,
             CASE WHEN {sql_hexval("substr(md5('jl:' || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)")} % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS sgn
      FROM outs, dims
    ),
    sample_vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_N_SAMPLE}
    ),
    flat AS (
      SELECT v.vec_id, d.i, CAST(v.embedding[d.i] AS DOUBLE) AS x
      FROM sample_vecs v, dims d
    ),
    proj AS (
      SELECT f.vec_id, s.j,
             CAST(SUM(CAST(f.x * s.sgn AS DECIMAL(28,12))) AS DOUBLE)
               / sqrt({_JL_K}.0) AS p
      FROM flat f JOIN signs s ON s.i = f.i
      GROUP BY f.vec_id, s.j
    ),
    orig_d2 AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             CAST(SUM(CAST((a.x - b.x) * (a.x - b.x) AS DECIMAL(28,12)))
                  AS DOUBLE) AS d2
      FROM flat a JOIN flat b ON b.i = a.i AND b.vec_id > a.vec_id
      GROUP BY 1, 2
    ),
    proj_d2 AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             CAST(SUM(CAST((a.p - b.p) * (a.p - b.p) AS DECIMAL(28,12)))
                  AS DOUBLE) AS d2
      FROM proj a JOIN proj b ON b.j = a.j AND b.vec_id > a.vec_id
      GROUP BY 1, 2
    ),
    ratios AS (
      SELECT CAST(sqrt(p.d2 / o.d2) AS DECIMAL(18,12)) AS ratio
      FROM orig_d2 o JOIN proj_d2 p ON p.u = o.u AND p.v = o.v
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST({_JL_K} AS BIGINT) AS k_dims,
           round(CAST(SUM(ratio) AS DOUBLE) / COUNT(*), 6) AS mean_distortion,
           round(CAST(MIN(ratio) AS DOUBLE), 6) AS min_distortion,
           round(CAST(MAX(ratio) AS DOUBLE), 6) AS max_distortion
    FROM ratios
    """,
)
def q_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss signed random projection 64→8 dims over the
    embedding corpus (±1 Rademacher signs derived from md5, scaled by
    1/√k), measuring pairwise-euclidean-distance distortion on a
    20-vector sample (190 pairs): mean/min/max of ‖proj(a)−proj(b)‖ /
    ‖a−b‖ — the dimensionality-reduction primitive that makes
    q_knn_bruteforce-style search affordable at scale, with its accuracy
    bill measured rather than assumed (the JL lemma promises
    1±ε concentration; this query reports the realized ε).

    Determinism: the sign matrix is md5-derived (bit-identical on both
    engines); every distance and projection sum goes per-term through
    DECIMAL(28,12); ratios are decimal-cast before the final exact-sum
    mean.

    Scale: the projection is a flat-explode → broadcast-join(signs, 512
    rows) → groupBy(vec, j) — one shuffle proportional to n·k, applied
    corpus-wide; only the distortion *measurement* is pairwise and it runs
    on a fixed sample. §2.B similarity surface [NS].
    """
    emb = load(spark, sf_dir, "embeddings")
    dims = spark.range(1, _JL_D + 1).select(F.col("id").cast("int").alias("i"))
    outs = spark.range(1, _JL_K + 1).select(F.col("id").cast("int").alias("j"))
    signs = outs.crossJoin(dims).select(
        "j",
        "i",
        F.when(
            hexval(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("jl:"),
                            F.col("j").cast("string"),
                            F.lit(":"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    1,
                )
            )
            % 2
            == 0,
            1.0,
        )
        .otherwise(-1.0)
        .alias("sgn"),
    )
    sample = emb.filter(F.col("vec_id") < _N_SAMPLE)
    flat = sample.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xv")
    ).select(
        "vec_id", (F.col("pos") + 1).alias("i"), F.col("xv").cast("double").alias("x")
    )
    # checkpointed once (r6): the projection pass and both original-
    # distance join sides each re-scanned+re-exploded embeddings (4 scans
    # in the plan); the bounded sample materializes once
    flat = flat.localCheckpoint(eager=True)
    proj = (
        flat.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(
            (
                F.sum((F.col("x") * F.col("sgn")).cast("decimal(28,12)")).cast(
                    "double"
                )
                / F.sqrt(F.lit(float(_JL_K)))
            ).alias("p")
        )
    )
    # both projected-distance join sides read the sample×K grid once
    proj = proj.localCheckpoint(eager=True)
    fa, fb = flat.alias("a"), flat.alias("b")
    orig_d2 = (
        fa.join(
            F.broadcast(fb),
            (F.col("b.i") == F.col("a.i")) & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("v"))
        .agg(
            F.sum(
                ((F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("d2")
        )
    )
    pa, pb = proj.alias("pa"), proj.alias("pb")
    proj_d2 = (
        pa.join(
            F.broadcast(pb),
            (F.col("pb.j") == F.col("pa.j")) & (F.col("pb.vec_id") > F.col("pa.vec_id")),
        )
        .groupBy(F.col("pa.vec_id").alias("u"), F.col("pb.vec_id").alias("v"))
        .agg(
            F.sum(
                ((F.col("pa.p") - F.col("pb.p")) * (F.col("pa.p") - F.col("pb.p"))).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("d2")
        )
    )
    ratios = (
        orig_d2.alias("o")
        .join(
            F.broadcast(proj_d2.alias("p")),
            (F.col("p.u") == F.col("o.u")) & (F.col("p.v") == F.col("o.v")),
        )
        .select(
            F.sqrt(F.col("p.d2") / F.col("o.d2")).cast("decimal(18,12)").alias("ratio")
        )
    )
    return ratios.agg(
        bcount("n_pairs"),
        F.lit(_JL_K).cast("bigint").alias("k_dims"),
        F.round(F.sum("ratio").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_distortion"
        ),
        F.round(F.min("ratio").cast("double"), 6).alias("min_distortion"),
        F.round(F.max("ratio").cast("double"), 6).alias("max_distortion"),
    )
