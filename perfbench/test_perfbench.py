"""The benchmark's own tests: job-group accounting, the correctness
checkers, seeded inputs, and a smoke run of every workload at tiny sizes.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from perfbench import checks, datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
with open(os.path.join(ROOT, "perfbench", "metrics.json")) as _f:
    METRICS = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_is_correct_and_reports_every_metric(workload):
    proc = _run(workload, trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    record = json.loads(proc.stdout.strip().splitlines()[-2])
    expected = list(METRICS["run_record"]["all"]) + list(METRICS["run_record"][workload])
    assert set(record["metrics"]) == set(expected)
    from perfbench.run import _flat

    assert all(unit for _, _, unit in _flat(record["metrics"]))
    assert record["calib_py_sort_sec"] > 0 and record["calib_jvm_agg_sec"] > 0


def test_stateful_check_holds_past_ten_batches(tmp_path, monkeypatch):
    """Spark compacts the file-source log every 10 batches; the counter's
    checker must not depend on it."""
    from perfbench.measure import Session, Tracer
    from perfbench.run import Ctx
    from perfbench.stateful import StatefulCounter

    monkeypatch.setenv("PYTHONPATH", ROOT)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    wl = StatefulCounter(Ctx(ROOT, str(tmp_path), 5, 60.0, False, True, Tracer()))
    wl.prepare()
    session = Session("perfbench-selftest")
    session.start()
    try:
        wl.setup(session.spark)
        res = wl.measure(session.spark)
    finally:
        session.close()
    assert res["details"]["batches"] > 10
    assert sum(res["failures"].values()) == 0


def test_metric_definitions_cover_benchmark_json():
    workloads = {w["name"] for w in SPEC["workloads"]}
    assert set(METRICS["run_record"]) - {"about", "all"} == workloads
    for m in SPEC["end_to_end"]:
        assert set(METRICS["end_to_end"][m["name"]]) in ({"all"}, workloads), m["name"]
    assert {m["name"] for m in SPEC["per_layer"]} == set(METRICS["layers"])


def test_traced_run_reports_every_layer_metric():
    proc = _run("streaming", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    record = json.loads(proc.stdout.strip().splitlines()[-2])
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    layers = {k: v["value"] for k, v in result["metrics"].items()}
    assert layers["router.jobs_per_batch"] >= 3  # snapshot, error count, publish
    assert layers["state.instances"] == 2  # smoke runs use 2 state partitions
    assert layers["sources.publish_calls"] >= 1 and layers["exec.stages"] >= 1
    assert layers["sources.subscribe_s"] > 0
    assert "middleware" in record["self_s"]


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("streaming", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout.strip() == ""


def test_job_groups_count_known_jobs(tmp_path):
    """Two actions per micro-batch are two jobs in the query's runId group;
    one action under a benchmark group is one job."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from perfbench.measure import Session, exec_totals, job_ids, progress_records, set_group

    session = Session("perfbench-selftest")
    session.start()
    spark = session.spark
    try:
        src = str(tmp_path / "src")
        spark.range(10).write.parquet(src)

        def two_jobs(df, _):
            df.sparkSession.range(3).collect()
            df.sparkSession.range(3).collect()

        q = (spark.readStream.schema("id long").parquet(src).writeStream.foreachBatch(two_jobs)
             .option("checkpointLocation", str(tmp_path / "ckpt")).trigger(availableNow=True).start())
        q.awaitTermination()
        batches = len(progress_records(q))
        assert batches >= 1
        assert len(job_ids(spark, str(q.runId))) == 2 * batches

        set_group(spark, "perfbench:selftest")
        spark.range(5).collect()
        jobs = job_ids(spark, "perfbench:selftest")
        assert len(jobs) == 1
        assert exec_totals(spark, jobs)["stages"] == 1
    finally:
        session.close()


def test_routing_checker_counts_each_kind_of_failure():
    sent = pa.array(["a", "b", "c", "d", "e"])
    fail = pa.array(["e"])
    clean = checks.check_routing(sent, fail, ["a", "b", "c", "d"], ["1"] * 4, ["e"], ["5"])
    assert sum(clean.values()) == 0
    bad = checks.check_routing(
        sent, fail,
        ["a", "a", "e", "x"], ["1", "1", None, "9"],  # c, d lost; a twice; e misrouted; x unknown
        ["b"], [""],  # b poisoned without failing; empty correlation id
    )
    assert bad == {"lost": 2, "duplicated": 1, "misrouted": 2, "unexpected": 1, "no_correlation_id": 2}


def test_counter_checker():
    assert sum(checks.check_counts({"k": 2}, {"k": 2}, {"k": 2}).values()) == 0
    assert checks.check_counts({"k": 2, "j": 1}, {"k": 3}, {"k": 2}) == {
        "wrong_running_count": 2, "wrong_batch_counts": 1}


def test_inputs_depend_only_on_the_seed(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 7, 0.001)
    b = datagen.write_tables(str(tmp_path / "b"), 7, 0.001)
    c = datagen.write_tables(str(tmp_path / "c"), 8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert datagen.seeded_uuids(np.random.default_rng(1), 100).equals(
        datagen.seeded_uuids(np.random.default_rng(1), 100))
