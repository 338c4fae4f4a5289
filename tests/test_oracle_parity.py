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


@pytest.fixture(scope="module")
def duck(tmp_path_factory):
    con = duck_connect(SF_DIR)
    con.execute(f"SET memory_limit = '{DUCK_MEMORY_LIMIT}'")
    con.execute(f"SET temp_directory = '{tmp_path_factory.mktemp('duck_spill')}'")
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
