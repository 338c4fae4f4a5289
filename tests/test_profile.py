"""The query-profiling command line (``watermill_spark.analytics.profile``).

``run`` must time the build (eager-checkpoint jobs included) and the noop
write separately, count the jobs of each, and turn a run past its budget
into an ``OVER_BUDGET`` record and exit code 1. ``plans`` writes each plan
and one ``plans.json``; ``report`` reads ``run`` output and the older sweep
files. All at sf0.001.
"""

from __future__ import annotations

import json

from tests.conftest import SF_SMOKE as SF
from watermill_spark.analytics import profile

FIELDS = {"name", "status", "build_s", "exec_s", "wall_s", "jobs_build",
          "jobs_exec", "quarantined"}


def _records(out: str) -> list[dict]:
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


def test_run_counts_build_jobs_of_eager_checkpoints(spark, capsys):
    assert profile.main(["run", SF, "q_customer_rfm"]) == 0
    [rec] = _records(capsys.readouterr().out)
    assert set(rec) == FIELDS
    assert rec["name"] == "q_customer_rfm" and rec["status"] == "ok"
    # q_customer_rfm runs most of its jobs inside the query function
    assert rec["jobs_build"] > 0 and rec["jobs_exec"] > 0
    assert rec["wall_s"] >= rec["build_s"] + rec["exec_s"]


def test_run_over_budget_is_recorded_and_exits_1(spark, capsys):
    assert profile.main(["run", SF, "--budget", "0.01", "q_customer_rfm"]) == 1
    assert [r["status"] for r in _records(capsys.readouterr().out)] == ["OVER_BUDGET"]


def test_run_skips_quarantined_unless_named_exactly(spark, capsys, tmp_path):
    # a substring selects the quarantined query but does not run it
    assert profile.main(["run", SF, "--shard", "0", "1", "q_knn_brute"]) == 0
    recs = _records(capsys.readouterr().out)
    assert [(r["name"], r["status"]) for r in recs] == [
        ("q_knn_bruteforce", "SKIPPED_QUARANTINED")
    ]
    # --resume skips every name already recorded in the file
    done = tmp_path / "done.jsonl"
    done.write_text(json.dumps(recs[0]) + "\n")
    assert profile.main(["run", SF, "--resume", str(done), "q_knn_brute"]) == 0
    assert _records(capsys.readouterr().out) == []


def test_plans_writes_plan_and_audit(spark, tmp_path):
    out = profile.main(["plans", SF, str(tmp_path), "q_rank_ntile"])
    assert out == 0
    plan = (tmp_path / "q_rank_ntile.txt").read_text()
    assert "== Physical Plan ==" in plan
    audit = json.loads((tmp_path / "plans.json").read_text())
    assert set(audit) == {"flag_counts", "multi_scans", "broadcast_fact_flags",
                          "single_partition_flags", "errors"}
    assert list(audit["single_partition_flags"]) == ["q_rank_ntile"]
    assert audit["single_partition_flags"]["q_rank_ntile"] == (
        profile.single_partition_flags(plan)
    )


def test_report_reads_run_and_sweep_records(tmp_path, capsys):
    path = tmp_path / "run.jsonl"
    path.write_text("\n".join([
        json.dumps({"name": "q_a", "status": "ok", "build_s": 1.0, "exec_s": 2.0,
                    "wall_s": 3.0, "jobs_build": 4, "jobs_exec": 1,
                    "quarantined": False}),
        json.dumps({"name": "q_b", "status": "ok", "wall_sec": 5.0, "rows": 7,
                    "quarantined": False}),
        json.dumps({"name": "q_c", "status": "OVER_BUDGET", "wall_s": 9.0,
                    "quarantined": False}),
        "not json",
        json.dumps({"summary": True, "ok": 2, "total": 3}),  # older sweep files
    ]))
    assert profile.main(["report", str(path)]) == 0
    out = capsys.readouterr().out
    assert "profiled: 3  ok: 2  failed/over-budget (non-quarantined): 1" in out
    assert "q_c: OVER_BUDGET (9.0s)" in out
    assert out.index("`q_b`") < out.index("`q_a`")  # slowest first
    assert "| `q_a` | 3.0 | 1.0 | 2.0 | 4 | 1 |" in out
