"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``), but
every setting is chosen to also hold on a large multi-executor cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast conversion are exactly the knobs that keep the same plans
  healthy at 100 TB.
- ``spark.sql.shuffle.partitions`` starts at 32 for local runs; AQE coalesces
  down / a cluster deployment raises it (rule of thumb: 2-3x total cores).
- Arrow enabled for every pandas-UDF boundary.
- Session timezone pinned to UTC so timestamp semantics are engine-independent
  (matches the DuckDB oracle's naive-timestamp reading of the same parquet).
- Python workers fork from the ``watermill_spark.pyworker`` daemon prelude,
  which stops CPython < 3.12 from re-reading ``pyspark.zip`` and the
  spark-core jar on the ``importlib.invalidate_caches()`` PySpark runs before
  every task (about 0.2 s per Python task). Sessions are always ``local[...]``,
  so the package root goes on the workers' ``PYTHONPATH`` for the daemon to
  import from any cwd; kernels still ship by value and never need it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Join-strategy knobs, runtime-settable (tune_session applies them to driver
# sessions too). Parameterized via env so cluster deployments can retune;
# local defaults are chosen to ALSO hold at 100 TB — see tune_session.
AQE_BCAST_THRESHOLD = os.environ.get("SPARK_GRAFT_AQE_BCAST", "64m")
SHJ_LOCAL_MAP_THRESHOLD = os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m")
PREFER_SMJ = os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false")

# The directory that holds the watermill_spark package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "watermill-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.sortBeforeRepartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "watermill_spark.pyworker")
        # Spark appends this after pyspark.zip on the workers' PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to a session we did not create.

    The correctness driver hands us its own SparkSession; only runtime-mutable
    confs may be touched here. UTC is load-bearing: Spark renders parquet
    TIMESTAMP micros in the session timezone while DuckDB reads them naive, so
    any other timezone skews extraction functions and returned values.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Round-robin repartition normally local-sorts its input so a retried
    # map task re-deals rows identically. Our repartitions (registry.spread)
    # only feed operators that are insensitive to row→partition assignment —
    # exact decimal aggregations, per-row maps, and top-ks with total-order
    # tiebreaks (det.py rules) — so the defensive sort buys nothing and
    # serializes the unsplittable-scan fan-out on its single input task.
    spark.conf.set("spark.sql.execution.sortBeforeRepartition", "false")
    # NOT set here: spark.sql.autoBroadcastJoinThreshold. Measured both
    # directions after the broadcast-hint removal: raising it to 64m made
    # the bench 1.8× WORSE (Catalyst's multiplicative join-size estimates
    # push fact-side relations under any generous threshold, so orders/
    # lineitem-derived sides start broadcasting), while the default 10m
    # only costs q05 ~0.7 s at sf0.1 (its customer×nation build side is
    # estimated past the threshold and sort-merge-joins — the plan that is
    # CORRECT at 100 TB, where customers scale with the corpus). AQE's
    # runtime SMJ→BHJ conversion still catches truly small sides from
    # actual shuffle sizes.
    #
    # Set here instead (r6, guide §3.1): the ADAPTIVE join thresholds, which
    # act on MEASURED shuffle sizes, not Catalyst estimates — so the failure
    # mode above cannot occur. A side only broadcast-converts when its real
    # materialized size is ≤ the threshold; a fact table at 100 TB never is,
    # while a dim-derived side that truly shrank (q05's ASIA customer×nation
    # at sf0.1) converts and skips the sort+fetch. preferSortMergeJoin=false
    # + the AQE local-map threshold let the planner/AQE pick shuffled-hash
    # joins when the per-partition build side fits (≤64 MB/partition —
    # modest executor memory at any scale; partition sizing at 100 TB is
    # governed by AQE advisory sizes, keeping the bound valid). All three
    # env-overridable (SPARK_GRAFT_AQE_BCAST / _SHJ_THRESHOLD / _PREFER_SMJ).
    if AQE_BCAST_THRESHOLD:
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", AQE_BCAST_THRESHOLD
        )
    if SHJ_LOCAL_MAP_THRESHOLD:
        spark.conf.set(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            SHJ_LOCAL_MAP_THRESHOLD,
        )
    if PREFER_SMJ:
        spark.conf.set("spark.sql.join.preferSortMergeJoin", PREFER_SMJ)
    return spark
