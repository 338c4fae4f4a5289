"""Query registry: the declared analytics surface of the engine.

Every operator we claim in SURVEY.md §2 lands here as a named query paired
with an ANSI-SQL oracle string that DuckDB runs over the same parquet tables
(views ``region nation customer supplier part orders lineitem events
documents embeddings``). The driver hash-compares Spark vs DuckDB results
(row count + schema + order-insensitive value hash), so every query follows
the cross-engine determinism rules in :mod:`watermill_spark.analytics.det`.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from watermill_spark.session import tune_session

QueryFn = Callable[[SparkSession, str], DataFrame]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    bench: bool = False  # include in bench.py headline suite


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, bench: bool = False):
    """Decorator registering a (spark, sf_dir) -> DataFrame query.

    The registered and returned function is a wrapper that applies
    :func:`~watermill_spark.session.tune_session` before the query body runs,
    so every call — through ``REGISTRY``, ``all_queries()`` or a direct
    module-level call — plans under UTC and our join thresholds whatever
    session the caller hands in. Query bodies must not rely on any other
    session state.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(name=name, fn=tuned, oracle=oracle, bench=bench)
        return tuned

    return deco


_RELATIONS: dict[tuple[str, str, str], DataFrame] = {}

# Serving-mode hot-table cache (off by default). A long-lived engine serving
# repeated query shapes pins its hot tables in memory — columnar, already
# fanned out to the session's parallelism — the same stance as BASELINE.md's
# in-process GoChannel comparator. Enabled by bench.py (and by setting
# SPARK_GRAFT_CACHE_TABLES=1); left OFF for correctness/plan tests so scans
# keep their parquet pushdown/pruning shape, and OFF by default at 100 TB
# where the cache policy is a capacity decision (pin dims + hot partitions,
# not whole fact tables).
CACHE_TABLES = os.environ.get("SPARK_GRAFT_CACHE_TABLES", "0") == "1"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.

    Plain parquet scan: Catalyst pushes filters and prunes columns into the
    scan, so callers should express predicates on the returned DataFrame and
    let pushdown do its job rather than pre-filtering here.

    Resolved relations are cached per (application, dir, table) — the
    catalog role. The testdata dirs are immutable, so the cached file
    listing/footer schema can never go stale; repeated queries skip the
    per-call re-listing + re-inference driver overhead (which otherwise
    dwarfs execution for small interactive queries; at 100 TB a real
    metastore/Delta log plays this part).

    ``events.ts`` ships as a parquet timestamp with isAdjustedToUTC=false.
    The whole query surface (and the DuckDB oracle, which reads it as a naive
    TIMESTAMP) treats those stored micros as UTC instants, so we disable NTZ
    inference and let Spark read the column as a regular TIMESTAMP (LTZ):
    identical micros-since-epoch values on both engines, independent of the
    driver session's timezone. Older generator versions wrote TIMESTAMP(NANOS)
    instead, which the vectorized reader rejects — for that layout we fall back
    to the nanos-as-long legacy conf + integer ``div 1000`` truncation
    (matching DuckDB's ns→µs truncation; float division would lose integer
    precision above 2^53 ns).
    """
    if name == "events":
        # conf is read at scan planning — (re)set it even on cache hits
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _RELATIONS.get(key)
    if df is None:
        if name == "events":
            # Scope the NTZ-disable to this one read: lineitem/orders
            # timestamps must keep their (tz-independent) NTZ inference.
            ntz_conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
            prev = spark.conf.get(ntz_conf)
            spark.conf.set(ntz_conf, "false")
            try:
                df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            finally:
                spark.conf.set(ntz_conf, prev)
            if dict(df.dtypes)["ts"] == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if CACHE_TABLES:
            # single-row-group testdata plans one scan task; fan out once,
            # then pin columnar in memory — every later query reads the
            # cache in parallel instead of re-decoding parquet on one core
            df = df.repartition(spark.sparkContext.defaultParallelism).persist()
        _RELATIONS[key] = df
    return df


def spread(df: DataFrame) -> DataFrame:
    """Fan an under-partitioned scan out to the session's parallelism.

    The testdata tables are single-file, single-row-group parquet, so Spark
    plans exactly one scan task regardless of ``maxPartitionBytes`` (parquet
    splits at row-group granularity). For CPU-heavy downstream work (shingle
    hashing, per-row vector math) that serializes the whole query on one core.

    This is the standard unsplittable-ingest fix: one small round-robin
    shuffle right after the scan. It is deliberately *conditional* — on a real
    cluster reading many multi-row-group files the scan already has >= cores
    partitions and this is a no-op, so the extra shuffle never appears at
    100 TB. Only use it before per-row-expensive transforms, never before a
    plain filter/agg where scan decode dominates.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def all_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in REGISTRY.values()}


def all_oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in REGISTRY.values() if q.oracle is not None}


def bench_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in REGISTRY.values() if q.bench}
