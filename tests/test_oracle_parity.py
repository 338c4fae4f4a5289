"""Every registered query must hash-match its DuckDB oracle (driver t2 twin).

Runs at sf0.001 by default (fast); set ORACLE_SF_DIR=/root/testdata/sf0.01 to
replicate the driver's exact scale.
"""

from __future__ import annotations

import os

import pytest

from watermill_spark.analytics.registry import REGISTRY

from .oracle_harness import compare, duck_connect

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


# DuckDB's default limit is 80% of RAM, and the Spark JVM shares the host:
# at sf0.01 the recursive oracles grew past 10 GB and the run was OOM-killed.
# With a cap, an oracle past it fails alone (or spills) instead. The limit
# counts reservations, not resident bytes: q_bradley_terry fails under 3 GB
# at sf0.001 while using about 0.5 GB. Capped here rather than in
# duck_connect, which other callers share.
DUCK_MEMORY_LIMIT = "4GB"


def _capped_duck(sf_dir: str, spill_dir):
    con = duck_connect(sf_dir)
    con.execute(f"SET memory_limit = '{DUCK_MEMORY_LIMIT}'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    return con


@pytest.fixture(scope="module")
def duck(tmp_path_factory):
    con = _capped_duck(SF_DIR, tmp_path_factory.mktemp("duck_spill"))
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_DIR)
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check, driver-equivalent
        return
    report = compare(df, duck, q.oracle)
    assert report["ok"], f"{name}: {report['detail']} ({report['spark_rows']} vs {report['duck_rows']} rows)"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    names = set(e.queries())
    oracles = e.oracle_sql()
    assert set(oracles) <= names


# The recursive graph oracles re-read the nation trade edges at every
# recursion step. Bound as a plain CTE, DuckDB re-derived the edge aggregate
# inside each step, and at sf0.01 q_kcore_trade's oracle ran out of memory
# under the cap; bound AS MATERIALIZED, each runs in under a second.
RECURSIVE_ORACLES = ("q_kcore_trade", "q_label_propagation", "q_random_walk_hitting")
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", RECURSIVE_ORACLES)
def test_recursive_oracle_matches_at_sf001(spark, tmp_path, name):
    con = _capped_duck(SF_CORRECT, tmp_path)
    try:
        q = REGISTRY[name]
        report = compare(q.fn(spark, SF_CORRECT), con, q.oracle)
    finally:
        con.close()
    assert report["ok"], f"{name}: {report['detail']} ({report['spark_rows']} vs {report['duck_rows']} rows)"
