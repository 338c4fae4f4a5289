"""Driver-session hostility: the correctness driver owns the SparkSession and
its config is unknown (timezone, shuffle partitions). ``register()`` wraps
every query so each call applies ``tune_session`` first — these tests run
the most timezone/partitioning-sensitive queries in a deliberately hostile
session and still demand oracle hash parity, through ``REGISTRY`` and
through a direct module-level call.

(A full 114-query hostile sweep runs ad hoc; this pinned subset keeps the
suite fast while covering each sensitivity class: timestamp extraction,
calendar arithmetic, session windows, decimal aggregation, window frames.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from watermill_spark.analytics.registry import REGISTRY
from watermill_spark.analytics.tpch import q01_pricing_summary

from .oracle_harness import compare, duck_connect

SF_DIR = "/root/testdata/sf0.001"

SENSITIVE = [
    "q01_pricing_summary",  # timestamp filter + decimal aggs
    "q_events_hourly",  # date_trunc in session tz
    "q_incremental_rollup",  # two-level time rollup
    "q_events_session_native",  # session_window boundaries
    "q_date_funcs",  # extraction functions
    "q_rolling_range_frame",  # unix_timestamp range frames
    "q_max_drawdown",  # day-trunc on NTZ orders + decimal running windows
    "q_entropy_daily_mix",  # day-trunc on LTZ events + log terms
    "q_rolling_active_users",  # day sequence explode + interval arithmetic
    "q_psi_value_drift",  # isodow weekday/weekend split on LTZ events
    "q_stl_lite",  # day-trunc + dow on NTZ lineitem, 7-day frames
    "q_kendall_tau",  # month-trunc pairing on NTZ orders
]


@pytest.fixture(scope="module")
def hostile_spark():
    # separate app config from conftest's session: non-UTC tz, odd partitions
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("hostile")
        .config("spark.sql.session.timeZone", "Asia/Tokyo")
        .config("spark.sql.shuffle.partitions", "7")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # poison the runtime confs a cooperative session would have had
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    yield spark
    # getOrCreate may have handed us the shared session — restore the confs
    # so later test modules aren't poisoned by this one
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", "32")


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", SENSITIVE)
def test_sensitive_query_survives_hostile_session(hostile_spark, duck, name):
    q = REGISTRY[name]
    report = compare(q.fn(hostile_spark, SF_DIR), duck, q.oracle)
    assert report["ok"], f"{name}: {report['detail']}"


def test_direct_module_call_tunes_hostile_session(hostile_spark, duck):
    # entry() calls the module-level function, not REGISTRY[...].fn
    hostile_spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    df = q01_pricing_summary(hostile_spark, SF_DIR)
    assert hostile_spark.conf.get("spark.sql.session.timeZone") == "UTC"
    report = compare(df, duck, REGISTRY["q01_pricing_summary"].oracle)
    assert report["ok"], report["detail"]
